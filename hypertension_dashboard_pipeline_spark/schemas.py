"""Fixed StructType schemas.

The reference's schemas are entirely dynamic — whatever ``dbGetQuery``
or ``read.csv`` returns — and types silently degrade through CSV
round-trips (dates re-cast at 3_blood_pressure.R:255-257, flags re-cast
at 4_hypertension_phenotype_main.R:140-144). Declaring fixed schemas
here removes that entire class of bug: Parquet preserves types, and any
cast in the engine is explicit.

Two schema families:
* OMOP-shaped tables — the reference's data model (SURVEY.md §1.2),
  used by the pipeline plans and fixture tests.
* TPC-H-ish driver testdata (TESTDATA.md) — used by the operator
  correctness queries. Parquet already carries these; schemas here are
  for CSV ingestion and validation.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# OMOP CDM subset (reference tables, SURVEY.md §1.2)
# person key is PATIENT_LINKAGE (opaque base64-like string), not person_id
# (reference: 2_data_importing_cleaning.R:64-74)
# ---------------------------------------------------------------------------

PERSON = T.StructType(
    [
        T.StructField("PATIENT_LINKAGE", T.StringType()),
        T.StructField("YEAR_OF_BIRTH", T.IntegerType()),
        T.StructField("ETHNICITY_SOURCE_VALUE", T.StringType()),
        T.StructField("GENDER_SOURCE_VALUE", T.StringType()),
        T.StructField("GENDER_CONCEPT_ID", T.IntegerType()),
        T.StructField("LOCATION_ZIP", T.StringType()),
        T.StructField("LOCATION_STATE", T.StringType()),
    ]
)

CONDITION_OCCURRENCE = T.StructType(
    [
        T.StructField("PATIENT_LINKAGE", T.StringType()),
        T.StructField("CONDITION_CONCEPT_ID", T.LongType()),
        T.StructField("CONDITION_CONCEPT_DESC", T.StringType()),
        T.StructField("CONDITION_START_DATE", T.DateType()),
    ]
)

MEASUREMENT = T.StructType(
    [
        T.StructField("PATIENT_LINKAGE", T.StringType()),
        T.StructField("MEASUREMENT_DATE", T.DateType()),
        T.StructField("MEASUREMENT_CONCEPT_ID", T.LongType()),
        T.StructField("MEASUREMENT_CONCEPT_DESC", T.StringType()),
        T.StructField("VALUE_AS_NUMBER", T.DoubleType()),
        T.StructField("UNIT_CONCEPT_ID", T.LongType()),
        T.StructField("UNIT_CONCEPT_DESC", T.StringType()),
    ]
)

OBSERVATION = T.StructType(
    [
        T.StructField("PATIENT_LINKAGE", T.StringType()),
        T.StructField("OBSERVATION_CONCEPT_ID", T.LongType()),
        T.StructField("OBSERVATION_DATE", T.DateType()),
    ]
)

PROCEDURE_OCCURRENCE = T.StructType(
    [
        T.StructField("PATIENT_LINKAGE", T.StringType()),
        T.StructField("PROCEDURE_CONCEPT_ID", T.LongType()),
        T.StructField("PROCEDURE_DATE", T.DateType()),
    ]
)

DRUG_EXPOSURE = T.StructType(
    [
        T.StructField("PATIENT_LINKAGE", T.StringType()),
        T.StructField("DRUG_CONCEPT_ID", T.LongType()),
        T.StructField("DRUG_EXPOSURE_START_DATE", T.DateType()),
    ]
)

CODELIST = T.StructType([T.StructField("concept_id", T.LongType())])

OMOP_SCHEMAS: dict[str, T.StructType] = {
    "person": PERSON,
    "condition_occurrence": CONDITION_OCCURRENCE,
    "measurement": MEASUREMENT,
    "observation": OBSERVATION,
    "procedure_occurrence": PROCEDURE_OCCURRENCE,
    "drug_exposure": DRUG_EXPOSURE,
}

# ---------------------------------------------------------------------------
# Driver testdata (TESTDATA.md): TPC-H-ish star schema + events/documents/
# embeddings. Timestamps (not dates) in orders/lineitem/events.
# ---------------------------------------------------------------------------

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampType()),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# events.parquet reader schemas: the driver's generator has shipped
# ``ts`` in two physical forms across rounds (nanosecond INT64 through
# r3, microsecond TIMESTAMP since r4), so readers sniff the parquet
# footer (io.events_read_plan) and pick the matching explicit schema —
# explicit either way so no read infers a schema and the
# nanos path needs NO session conf (`spark.sql.legacy.parquet.nanosAsLong`).
#
# EVENTS_RAW: ts declared LONG reads raw nanos; readers convert
# ``ts DIV 1000`` → timestamp_micros themselves.
EVENTS_RAW = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# EVENTS_NTZ: ts declared TIMESTAMP_NTZ for micro/millisecond parquet
# timestamps (isAdjustedToUTC=false); readers cast to session-tz
# TIMESTAMP, value-identical under the engine's fixed UTC session tz.
EVENTS_NTZ = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

TESTDATA_TABLES = tuple(TESTDATA_SCHEMAS)
