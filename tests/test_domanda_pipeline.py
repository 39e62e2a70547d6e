"""End-to-end test of the domanda pipeline on FIXTURES.md-style flight
frames, locking in the reference quirks (SURVEY.md §8): empty-string key
matching (Q1), many-to-many fan-out (Q3), latest-wins dedup, P4/P5 row
removal, and the 94-column output contract."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from domanda_etl_spark.plans import domanda
from tests.flight_fixtures import NOW, build_frames


def run(spark):
    cola, settour, lion, ez, fez, rich = build_frames(spark)
    return domanda.run_pipeline(cola, settour, lion, ez, fez, rich, now_epoch=NOW)


def test_output_schema_is_94_columns(spark):
    out = run(spark)
    assert len(out.columns) == 94
    for c in (
        "departure_flight_number_1",
        "return_cabin_class_3",
        "ezfly_ticket_price",
        "foreign_supplier_eztraval_tax",
        "kp",
        "activity_fee_adjustment",
    ):
        assert c in out.columns, c


def test_join_enrichment_and_filters(spark):
    out = run(spark).cache()
    rows = {
        (r["departure_flight_number_1"], r["final_price"]): r
        for r in out.collect()
    }
    # cola r3 (JX0500, price 3000) matched no supplier -> removed by P5
    assert not any(k[0] == "JX0500" for k in rows)
    # cola r2 matched eztravel domestic + foreign (price 9000)
    br = rows[("BR016", 9000)]
    assert br["eztravel_ticket_air_tickets_price"] == 8800
    assert br["eztravel_tax"] == 790
    assert br["foreign_supplier_eztraval_ticket_air_tickets_price"] == 9100
    assert br["foreign_supplier_eztraval_tax"] == 810
    assert br["lion_tax"] is None
    # cross-year date handling: departure 2025, return 2026 (F8/F9)
    assert br["departure_date"] == "2025/12/30"
    assert br["return_date"] == "2026/01/02"
    # ezfly phantom supplier stays NULL (Q5)
    assert br["ezfly_ticket_price"] is None


def test_fanout_and_latest_wins(spark):
    out = run(spark).cache()
    ci = out.filter(F.col("departure_flight_number_1") == "CI073").collect()
    # cola r0 (6200) and r4 (6300) each match 2 settour offers (fan-out, Q3)
    # + lion + rich; r1 is an exact dup of r0 except creation_time -> deduped
    prices = sorted((r["final_price"], r["settour_air_tickets_price"]) for r in ci)
    assert prices == [(6200, 5100), (6200, 5150), (6300, 5100), (6300, 5150)]
    # latest creation_time wins for the r0/r1 duplicate pair
    for r in ci:
        if r["final_price"] == 6200:
            assert r["creation_time"] == NOW
    # lion joined via placeholder legs matching cola's missing legs (Q1)
    assert all(r["lion_air_tickets_price"] == 5050 for r in ci)
    # rich joined but has NULL tax
    assert all(r["rich_mond_air_tickets_price"] == 5200 for r in ci)
    assert all(r["rich_mond_tax"] is None for r in ci)


def test_scalar_projection_values(spark):
    out = run(spark).cache()
    r = out.filter(
        (F.col("departure_flight_number_1") == "CI073") & (F.col("final_price") == 6200)
    ).collect()[0]
    assert r["departure_airline_1"] == "CI"
    assert r["departure_airport_1"] == "TPE"
    assert r["departure_arrival_airport_1"] == "HKG"
    assert r["departure_flight_time_1"] == "19:20"
    assert r["departure_arrival_flight_time_1"] == "21:25"
    assert r["departure_flight_duration_1"] == 125
    assert r["return_flight_duration_1"] == 125
    assert r["departure_luggage_value_1"] == 25.0
    assert r["departure_luggage_unit_1"] == "公斤"
    assert r["return_luggage_value_1"] == 1.0
    assert r["return_luggage_unit_1"] == "件"
    assert r["departure_transfer_count"] == 0
    assert r["gds_type"] == "amadeus"
    assert r["departure_date"] == "2025/11/05"
    assert r["kp"] == "3%"
    # leg 2/3 columns exist but are NULL (blank->null at the end)
    assert r["departure_flight_number_2"] is None
    assert r["departure_airline_2"] is None


def test_supplier_validity_filter_removed_bad_rows(spark):
    # settour's 'C7' row must not leak its price anywhere
    out = run(spark)
    assert out.filter(F.col("settour_air_tickets_price") == 1).count() == 0


def _supplier_side(spark, rows: list[dict], payload: list[str]):
    """A supplier side in cleaned (renamed) form: every key a string,
    missing keys NULL, then price and tax under `payload`'s names."""
    cols = domanda.JOIN_KEYS + payload
    data = [tuple(r.get(c) for c in cols) for r in rows]
    return spark.createDataFrame(data, ", ".join(f"`{c}` {'double' if c in payload else 'string'}" for c in cols))


def _key(fn: str, ret: str, leg2: str | None = None) -> dict:
    return {"去程_航班編號1": fn, "回程_航班編號1": ret, "去程_航班編號2": leg2,
            "出發日期": "11/05", "返回日期": "11/12"}


def test_one_join_fanout_matches_successive_left_joins(spark):
    """The grouped one-join enrichment gives the same rows, as a multiset,
    as five successive broadcast left joins: duplicate keys on two sides
    (set, lion) and in the spine, a spine key no side has, NULL payloads,
    and placeholder keys ('nan' on the spine, NULL and 'None' on the
    suppliers all canonicalize to '')."""
    a, b = _key("CI073", "CI074"), _key("BR016", "BR015", leg2="nan")
    spine_rows = [dict(a, id="a1"), dict(a, id="a2"), dict(b, id="b1"),
                  dict(_key("JX500", "JX501"), id="none")]
    spine = spark.createDataFrame(
        [tuple(r.get(c) for c in domanda.JOIN_KEYS + ["id"]) for r in spine_rows],
        ", ".join(f"`{c}` string" for c in domanda.JOIN_KEYS + ["id"]),
    )
    b_none = dict(b, **{"去程_航班編號2": "None"})
    b_null = dict(b, **{"去程_航班編號2": None})
    offers = {
        "set": [(a, 100.0, 10.0), (a, 101.0, 11.0), (b_null, 102.0, 12.0)],
        "lion": [(a, 200.0, 20.0), (a, None, None)],
        "eztravel": [(b_none, 300.0, None)],
        "f_eztravel": [(a, 400.0, 40.0), (_key("ZZ999", "ZZ998"), 401.0, 41.0)],
        "rich": [(_key("ZZ999", "ZZ998"), 500.0, 50.0)],
    }
    sides = []
    for name, payload in domanda.SUPPLIER_PAYLOADS.items():
        rows = [dict(k, **{payload[0]: p, payload[1]: t}) for k, p, t in offers[name]]
        sides.append(_supplier_side(spark, rows, payload))

    got = domanda.join_price_and_tax(spine, *sides)
    want = domanda.normalize_for_join(spine)
    for (name, payload), side in zip(domanda.SUPPLIER_PAYLOADS.items(), sides):
        right = domanda.normalize_for_join(side).select(*domanda.JOIN_KEYS, *payload)
        want = want.join(F.broadcast(right), on=domanda.JOIN_KEYS, how="left")

    assert got.columns == want.columns
    got_rows, want_rows = Counter(map(tuple, got.collect())), Counter(map(tuple, want.collect()))
    assert got_rows == want_rows
    # a1 and a2 each fan out to set 2 x lion 2 x f_eztravel 1; b1 and the
    # unmatched spine row keep one row each
    assert sum(got_rows.values()) == 2 * 4 + 1 + 1
    final_plan = got._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    assert final_plan.count("BroadcastHashJoin") == 1


def test_union_cleaning_matches_per_supplier_cleaning(spark):
    """run_pipeline cleans the five suppliers' tagged union once; the
    output equals cleaning each supplier and then unify."""
    cola, *sups = build_frames(spark)
    got = run(spark)
    cleaned = [domanda.clean_supplier(df, "票面價格", "稅金", *payload)
               for df, payload in zip(sups, domanda.SUPPLIER_PAYLOADS.values())]
    want = domanda.dedup_latest(domanda.unify(domanda.clean_cola(cola, now_epoch=NOW), *cleaned))
    assert got.columns == want.columns
    assert Counter(map(tuple, got.collect())) == Counter(map(tuple, want.collect()))


def test_refresh_compiles_without_fallback(spark, tmp_path):
    """The refresh on the benchmark's lake shape (perfbench.lake: every
    leg and column populated, unlike the constant-folded registry frames)
    compiles every whole stage: with spark.sql.codegen.fallback=false a
    generated-code compile failure (janino's 64 KB method limit) throws
    instead of falling back to interpreted execution. Building the six
    source frames runs no Spark job: each scan takes its schema from the
    parquet footer instead of a schema-inference job."""
    from perfbench import lake

    from domanda_etl_spark.sources.extractors import Extractor
    from tests.test_read_contract import jobs_during

    lake.generate(str(tmp_path), 7, 200)
    ex = Extractor(spark, str(tmp_path), lake.CUTOFF_EPOCH)
    src, jobs = jobs_during(spark, lambda: [
        ex.extract_cola_data(), ex.extract_set_data(), ex.extract_lion_data(),
        ex.extract_eztravel_data(), ex.extract_foreign_supplier_eztravel_data(),
        ex.extract_rich_data()])
    assert jobs == 0, f"building the source frames ran {jobs} Spark jobs"
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        out = domanda.run_pipeline(*src, now_epoch=lake.NOW_EPOCH)
        out.write.format("noop").mode("overwrite").save()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
