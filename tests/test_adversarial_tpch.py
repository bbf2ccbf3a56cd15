"""Adversarial-data parity for the TPC-H-shaped / money window
queries — the decimal-presentation counterpart of
test_adversarial_events.py.

The rebuilt lineitem/orders tables stress exactly what the
``dec_present`` and ``round_fixed`` conventions exist for:

* group sums whose SCALED integer exceeds 2^53 (prices up to 1e9 —
  the regime where a naive decimal->double CAST diverges between
  engines in the last ulp; the string-mediated route must not);
* prices and quantities sitting on .x5 / .005 decimal midpoints (the
  engine-round() divergence class);
* heavy top-k ties (many orders sharing o_totalprice, so the
  (price DESC, orderkey) tie-break carries the whole ordering);
* discount/tax at the 0 and the exact representable edges.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import duckdb
import pytest

from hypertension_dashboard_pipeline_spark import registry

from test_driver_parity import TABLES, _canon

registry.load_all()

TPCH_QUERIES = [
    "a18_cube_agg",
    "a19_pivot_priority",
    "a20_grouped_regression",
    "a21_histogram_totalprice",
    "a24_key_skew_profile",   # events-based but cheap; keep for symmetry
    "a25_winsorized_stats",
    "a26_equidepth_histogram",
    "a27_pricing_summary",
    "a28_unpivot_priority",
    "cust_rfm_segments",
    "j15_shipping_priority",
    "j16_local_supplier_volume",
    "j17_large_volume_orders",
    "w5_ntile_quartiles",
    "a30_grouped_mad_outliers",
    # wave-9 debuts: the remaining TPC-H shapes — huge-magnitude
    # sums, midpoint money, tie blocks and threshold straddles all
    # flow through their exact-DECIMAL / cross-multiplied predicates
    "j24_min_cost_supplier",
    "a33_order_priority_late",
    "a34_forecast_revenue",
    "j25_product_profit",
    "a35_important_parts",
    "j26_late_shipment_priority",
    "a36_promo_revenue_share",
    "j27_top_supplier",
    "a37_supplier_part_breadth",
    "j28_small_qty_revenue",
    "a38_disjunctive_revenue",
    "j29_dominant_suppliers",
    "j30_waiting_suppliers",
    # wave-10: exact-moment correlation under 1e9-scale balances
    "a39_grouped_corr",
    "w8_percent_rank_cume",
    "a41_yoy_growth",
    "dq_uniqueness_report",
    "a42_top_customer_share",
    # late-r8 parity-sweep find: raw-double sums diverged between the
    # salted two-phase plans and the unsalted oracles on fractional
    # quantities (order-dependent float addition) — now exact DECIMAL,
    # pinned on this corpus's midpoint/huge-magnitude money
    "a12_salted_skew_agg",
    "j9_salted_skew_join",
]

_FLAGS = [("R", "F"), ("A", "F"), ("N", "O")]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_STATUSES = ["F", "O", "P"]
_T0 = dt.datetime(1997, 1, 1)


def _build_adv_lineitem_orders(li_path: str, o_path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(7)
    li = {k: [] for k in (
        "l_orderkey l_partkey l_suppkey l_linenumber l_quantity "
        "l_extendedprice l_discount l_tax l_returnflag l_linestatus "
        "l_shipdate".split()
    )}
    orders = {k: [] for k in (
        "o_orderkey o_custkey o_orderstatus o_totalprice o_orderdate "
        "o_orderpriority".split()
    )}

    def add_li(ok, ln, qty, price, disc, tax, rf, ls, ship):
        li["l_orderkey"].append(ok)
        li["l_partkey"].append(rng.randint(1, 200))
        li["l_suppkey"].append(rng.randint(1, 10))
        li["l_linenumber"].append(ln)
        li["l_quantity"].append(qty)
        li["l_extendedprice"].append(price)
        li["l_discount"].append(disc)
        li["l_tax"].append(tax)
        li["l_returnflag"].append(rf)
        li["l_linestatus"].append(ls)
        li["l_shipdate"].append(ship)

    def add_order(ok, price, prio_i, status_i, day):
        orders["o_orderkey"].append(ok)
        orders["o_custkey"].append(1 + ok % 150)  # reuse sf0.001 customers
        orders["o_orderstatus"].append(_STATUSES[status_i % 3])
        orders["o_totalprice"].append(price)
        orders["o_orderdate"].append(_T0 + dt.timedelta(days=day))
        orders["o_orderpriority"].append(_PRIORITIES[prio_i % 5])

    ok = 0
    # (1) huge-magnitude group: sums cross 2^53 scaled at 4-6 dp
    for i in range(1200):
        ok += 1
        rf, ls = _FLAGS[i % 3]
        add_li(ok, 1, 25.0 + (i % 3), 1e9 + i * 1000 + 0.25,
               0.05, 0.04, rf, ls,
               _T0 + dt.timedelta(days=i % 300))
        add_order(ok, 1e9 + i * 1000 + 0.25, i, i, i % 300)
    # (2) midpoint-rich money: .x5 at 2dp, .005/.0005 patterns
    for i in range(1500):
        ok += 1
        rf, ls = _FLAGS[i % 3]
        price = round(rng.randint(1, 2_000_000) * 0.05, 2)
        qty = rng.choice([1.0, 2.5, 12.5, 49.5, 50.0])
        add_li(ok, 1, qty, price, rng.choice([0.0, 0.05, 0.1]),
               rng.choice([0.0, 0.04, 0.08]), rf, ls,
               _T0 + dt.timedelta(days=i % 300))
        add_order(ok, price, i, i, i % 300)
    # (3) top-k tie block: 60 orders share one price exactly
    for i in range(60):
        ok += 1
        add_li(ok, 1, 310.0, 77777.55, 0.0, 0.0, "N", "O",
               _T0 + dt.timedelta(days=400))  # > Q3 shipdate cut
        add_order(ok, 77777.55, i, 1, 5)      # < Q3 orderdate cut
    # (4) multi-line orders for Q18 thresholds straddling 300 exactly
    for i in range(200):
        ok += 1
        rf, ls = _FLAGS[i % 3]
        target = rng.choice([299.99, 300.0, 300.01, 301.5])
        n_lines = 4
        per = round(target / n_lines, 2)
        rem = round(target - per * (n_lines - 1), 2)
        for ln in range(1, n_lines + 1):
            q = per if ln < n_lines else rem
            add_li(ok, ln, q, round(rng.uniform(1000, 9000), 2),
                   0.05, 0.04, rf, ls, _T0 + dt.timedelta(days=i % 300))
        add_order(ok, round(rng.uniform(1000, 500000), 2), i, i, i % 300)

    pq.write_table(pa.table({
        "l_orderkey": pa.array(li["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(li["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(li["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
        "l_quantity": pa.array(li["l_quantity"], pa.float64()),
        "l_extendedprice": pa.array(li["l_extendedprice"], pa.float64()),
        "l_discount": pa.array(li["l_discount"], pa.float64()),
        "l_tax": pa.array(li["l_tax"], pa.float64()),
        "l_returnflag": pa.array(li["l_returnflag"], pa.string()),
        "l_linestatus": pa.array(li["l_linestatus"], pa.string()),
        "l_shipdate": pa.array(li["l_shipdate"], pa.timestamp("us")),
    }), li_path)
    pq.write_table(pa.table({
        "o_orderkey": pa.array(orders["o_orderkey"], pa.int64()),
        "o_custkey": pa.array(orders["o_custkey"], pa.int64()),
        "o_orderstatus": pa.array(orders["o_orderstatus"], pa.string()),
        "o_totalprice": pa.array(orders["o_totalprice"], pa.float64()),
        "o_orderdate": pa.array(orders["o_orderdate"], pa.timestamp("us")),
        "o_orderpriority": pa.array(orders["o_orderpriority"], pa.string()),
    }), o_path)


@pytest.fixture(scope="module")
def advtpch_dir(tmp_path_factory, sf_smoke):
    root = tmp_path_factory.mktemp("adv_tpch")
    for t in TABLES:
        if t not in ("lineitem", "orders"):
            os.symlink(f"{sf_smoke}/{t}.parquet", root / f"{t}.parquet")
    _build_adv_lineitem_orders(
        str(root / "lineitem.parquet"), str(root / "orders.parquet")
    )
    return str(root)


@pytest.fixture(scope="module")
def advtpch_duck(advtpch_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{advtpch_dir}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", TPCH_QUERIES)
def test_tpch_query_matches_oracle_on_adversarial_data(
    name, spark, advtpch_dir, advtpch_duck
):
    sdf = registry.QUERIES[name](spark, advtpch_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    duck_tbl = advtpch_duck.execute(registry.ORACLES[name]).arrow()
    duck_cols = list(duck_tbl.schema.names)
    duck_rows = [tuple(d.values()) for d in duck_tbl.to_pylist()]
    assert sorted(spark_cols) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: {len(spark_rows)} vs {len(duck_rows)} rows"
    )
    _, srows = _canon(spark_cols, spark_rows)
    _, drows = _canon(duck_cols, duck_rows)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(srows, drows)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
    )
