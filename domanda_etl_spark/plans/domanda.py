"""The domanda flight-price pipeline, recomposed Spark-first.

Reference pipeline (etl/pipeline.py:29-57): 6 BigQuery scans -> per-supplier
pandas cleaning -> 14-key multi-way left join -> 94-column projection ->
cross-source latest-wins dedup -> truncate-and-load. Here the whole thing is
ONE lazy DataFrame DAG: 6 parquet scans with pushed filters -> narrow
expression maps -> one broadcast left join against the five suppliers'
grouped union -> window dedup; the only action is the sink write.

Semantic parity notes (SURVEY.md §8): join keys are canonicalized to ''
(never NULL) so placeholder keys match each other (Q1); supplier sides are
pre-projected to key+payload which sidesteps the reference's duplicate
suffix artifacts without changing output (Q2); many-to-many fan-out is
preserved (Q3); clock defaults are injected parameters (Q4); the ezfly
phantom supplier and the 'eztraval' misspelling are kept verbatim (Q5/Q6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import scalars as S
from ..operators import conform, joins, windows

LEGS = (1, 2, 3)

# 14 join keys (reference unified_transformer.py:190-210)
FLIGHT_KEYS = [f"去程_航班編號{i}" for i in LEGS] + [f"回程_航班編號{i}" for i in LEGS]
CABIN_KEYS = [f"去程_艙等{i}" for i in LEGS] + [f"回程_艙等{i}" for i in LEGS]
DATE_KEYS = ["出發日期", "返回日期"]
JOIN_KEYS = FLIGHT_KEYS + CABIN_KEYS + DATE_KEYS

# supplier payload column names (reference unified_transformer.py:455-473;
# 'eztraval' misspelling is load-bearing, Q6)
SUPPLIER_PAYLOADS = {
    "set": ["settour_air_tickets_price", "settour_tax"],
    "lion": ["lion_air_tickets_price", "lion_tax"],
    "eztravel": ["eztravel_ticket_air_tickets_price", "eztravel_tax"],
    "f_eztravel": [
        "foreign_supplier_eztraval_ticket_air_tickets_price",
        "foreign_supplier_eztraval_tax",
    ],
    "rich": ["rich_mond_air_tickets_price", "rich_mond_tax"],
}

# pandas-side rename of supplier raw key columns (reference
# set_transformer.py:28-58 and clones; the same for every supplier, whose
# price/tax columns are renamed to its SUPPLIER_PAYLOADS names)
def _supplier_key_rename() -> dict[str, str]:
    m = {"去程日期": "出發日期", "回程日期": "返回日期"}
    for i in LEGS:
        m[f"去程航班編號{i}"] = f"去程_航班編號{i}"
        m[f"回程航班編號{i}"] = f"回程_航班編號{i}"
        m[f"去程艙等{i}"] = f"去程_艙等{i}"
        m[f"回程艙等{i}"] = f"回程_艙等{i}"
    return m


SUPPLIER_KEY_RENAME = _supplier_key_rename()
SUPPLIER_RAW_KEYS = [raw for raw, key in SUPPLIER_KEY_RENAME.items() if key in JOIN_KEYS]


# cola rename map (reference cola_transformer.py:121-168)
def _cola_rename() -> dict[str, str]:
    m = {}
    for i in LEGS:
        m[f"去程航班編號{i}"] = f"去程_航班編號{i}"
        m[f"回程航班編號{i}"] = f"回程_航班編號{i}"
        m[f"去程艙等與艙等編碼{i}"] = f"去程_艙等{i}"
        m[f"回程艙等與艙等編碼{i}"] = f"回程_艙等{i}"
        m[f"去程起飛時間{i}"] = f"去程_出發時間{i}"
        m[f"去程降落時間{i}"] = f"去程_到達時間{i}"
        m[f"回程起飛時間{i}"] = f"回程_出發時間{i}"
        m[f"回程降落時間{i}"] = f"回程_到達時間{i}"
        m[f"去程起飛機場{i}"] = f"去程_出發機場{i}"
        m[f"去程降落機場{i}"] = f"去程_到達機場{i}"
        m[f"回程起飛機場{i}"] = f"回程_出發機場{i}"
        m[f"回程降落機場{i}"] = f"回程_到達機場{i}"
        m[f"去程飛機公司及型號{i}"] = f"去程_機型{i}"
        m[f"回程飛機公司及型號{i}"] = f"回程_機型{i}"
        m[f"去程飛行時間{i}"] = f"去程_飛行時間{i}"
        m[f"回程飛行時間{i}"] = f"回程_飛行時間{i}"
    m.update(
        {
            "基礎票價": "機票價錢",
            "票價加價成數": "機票價錢加價成數",
            "總售價": "最終價格",
            "票型": "淨價或票面",
            "公式類型": "票價規則類型",
            "GDS Type": "GDS_Type",
            "折讓百分比": "KP",
        }
    )
    return m


def clean_cola(df: DataFrame, now_epoch: float | None = None) -> DataFrame:
    """Cola (spine) cleaning — reference cola_transformer.py:29-48.

    rename -> cabin despace (F11) -> luggage normalize (F5) -> date
    derivation from leg-1 departure time (F6/F7/F8) -> ensure join keys ->
    metadata defaults (建立時間/KP; clock injected for determinism, Q4).
    """
    # SQL text throughout: one py4j call per column instead of one per
    # expression node (PERF.md round 7; see the scalars.py docstring). One
    # Bindings stages what the luggage and date builders read repeatedly.
    qi = S._sql_ident
    df = conform.rename_existing(df, _cola_rename())
    b = conform.Bindings()
    cols = {c: S.despace_sql(qi(c)) for c in df.columns if "艙等" in c}
    cols.update({c: S.luggage_reassemble_sql(qi(c), b) for c in df.columns if "行李" in c})
    for leg, day, year in (("去程", "出發日期", "出發年份"), ("回程", "返回日期", "返回年份")):
        if f"{leg}_出發時間1" in df.columns:
            t = qi(f"{leg}_出發時間1")
            cols[day] = S.date_to_mm_dd_slice_sql(S.to_date_yyyy_mm_dd_sql(t, b))
            cols[year] = S.year_prefix_sql(t)
    df = b.apply(df, cols)
    df = conform.ensure_columns(df, {k: "string" for k in JOIN_KEYS})
    now = F.lit(float(now_epoch)) if now_epoch is not None else S.epoch_now()
    df = conform.default_fill(df, {"建立時間": now.cast("double"), "KP": F.lit("")})
    return df


def clean_supplier(df: DataFrame, raw_price: str, raw_tax: str, price_to: str, tax_to: str) -> DataFrame:
    """Supplier cleaning — reference set_transformer.py:13-26 and clones:
    rename -> flight-number canonicalize (F10) + row-validity filter (P4) ->
    date slice to MM/DD (F7)."""
    return _clean_supplier_keys(conform.rename_existing(df, {raw_price: price_to, raw_tax: tax_to}))


def _clean_supplier_keys(df: DataFrame) -> DataFrame:
    """clean_supplier past the price/tax rename; run_pipeline runs it once
    on the tagged union of all five suppliers."""
    qi = S._sql_ident
    df = conform.rename_existing(df, SUPPLIER_KEY_RENAME)
    flight_cols = [c for c in FLIGHT_KEYS if c in df.columns]
    if flight_cols:
        b = conform.Bindings()
        df = b.apply(df, {c: S.canonical_flight_number_sql(qi(c), b) for c in flight_cols})
        df = conform.one_eval_barrier(df)
        df = df.filter(F.expr(f"NOT ({S.invalid_flight_row_sql(flight_cols)})"))
    date_cols = {
        dcol: F.expr(S.date_to_mm_dd_slice_sql(qi(dcol)))
        for dcol in DATE_KEYS
        if dcol in df.columns
    }
    if date_cols:
        df = df.withColumns(date_cols)
    return df


def normalize_for_join(df: DataFrame) -> DataFrame:
    """J2 over the 14 keys: missing keys added, placeholder-to-'' (Q1),
    flight/cabin keys whitespace-stripped, dates to MM/DD."""
    df = conform.ensure_columns(df, {k: "string" for k in JOIN_KEYS})
    return joins.normalize_join_keys(
        df, JOIN_KEYS, strip_ws_keys=FLIGHT_KEYS + CABIN_KEYS, date_keys=DATE_KEYS
    )


def join_price_and_tax(
    cola: DataFrame,
    set_df: DataFrame,
    lion: DataFrame,
    eztravel: DataFrame,
    f_eztravel: DataFrame,
    rich: DataFrame,
) -> DataFrame:
    """J1 — cola spine left-joined to the 5 cleaned suppliers on the
    canonicalized 14-key. Reference unified_transformer.py:175-288."""
    keyed = {k: "string" for k in JOIN_KEYS}
    frames = (set_df, lion, eztravel, f_eztravel, rich)
    sides = {
        name: (conform.ensure_columns(df, keyed), payload)
        for (name, payload), df in zip(SUPPLIER_PAYLOADS.items(), frames)
    }
    return _join_tagged(cola, conform.one_eval_barrier(joins.tag_sides(sides, JOIN_KEYS)))


def _join_tagged(cola: DataFrame, tagged: DataFrame) -> DataFrame:
    """J1 over the suppliers' tagged union. The union sits behind a
    one_eval_barrier, so the key normalization above it is planned and
    compiled once, not once per supplier; joins.enrich_left_join_tagged
    then joins all five in one broadcast join with the successive
    left-join fan-out (Q3)."""
    return joins.enrich_left_join_tagged(
        normalize_for_join(cola), normalize_for_join(tagged), JOIN_KEYS, SUPPLIER_PAYLOADS
    )


def attach_year(df: DataFrame) -> DataFrame:
    """F9 — 出發日期/返回日期 from MM/DD back to YYYY/MM/DD using the year
    columns derived during cola cleaning (reference unified_transformer.py:518-537)."""
    qi = S._sql_ident
    return df.withColumns(
        {
            "出發日期": F.expr(S.attach_year_sql(qi("出發年份"), qi("出發日期"))),
            "返回日期": F.expr(S.attach_year_sql(qi("返回年份"), qi("返回日期"))),
        }
    ).drop("出發年份", "返回年份")


def project_output(df: DataFrame) -> DataFrame:
    """P7 — the 94-column output projection (reference
    unified_transformer.py:290-503), as pre-composed SQL strings: one
    selectExpr per Bindings layer and one for the 94 outputs, instead of
    one py4j call per expression node (~1 s of pure plan-construction
    latency at this breadth, PERF.md round 7). The times, durations and
    luggage read their trimmed values and regex groups as staged columns.
    The full-pipeline DuckDB hash covers the composition on real data."""
    qi = S._sql_ident
    cols = set(df.columns)
    b = conform.Bindings()
    ident = lambda x: x  # noqa: E731

    def maybe(name: str, sql_fn) -> str:
        return sql_fn(qi(name)) if name in cols else "CAST(NULL AS STRING)"

    def staged(sql_fn):
        return lambda x: sql_fn(x, b)

    out: dict[str, str] = {}
    for i in LEGS:
        out[f"departure_airline_{i}"] = maybe(f"去程_航班編號{i}", S.airline_code_sql)
        out[f"return_airline_{i}"] = maybe(f"回程_航班編號{i}", S.airline_code_sql)
    for i in LEGS:
        out[f"departure_airport_{i}"] = maybe(f"去程_出發機場{i}", S.first_token_sql)
        out[f"departure_arrival_airport_{i}"] = maybe(f"去程_到達機場{i}", S.first_token_sql)
        out[f"return_airport_{i}"] = maybe(f"回程_出發機場{i}", S.first_token_sql)
        out[f"return_arrival_airport_{i}"] = maybe(f"回程_到達機場{i}", S.first_token_sql)
    hhmm = staged(S.to_time_hhmm_sql)
    for i in LEGS:
        out[f"departure_flight_time_{i}"] = maybe(f"去程_出發時間{i}", hhmm)
        out[f"departure_arrival_flight_time_{i}"] = maybe(f"去程_到達時間{i}", hhmm)
        out[f"return_flight_time_{i}"] = maybe(f"回程_出發時間{i}", hhmm)
        out[f"return_arrival_flight_time_{i}"] = maybe(f"回程_到達時間{i}", hhmm)
    for i in LEGS:
        out[f"departure_aircraft_type_{i}"] = maybe(f"去程_機型{i}", ident)
        out[f"return_aircraft_type_{i}"] = maybe(f"回程_機型{i}", ident)
    for i in LEGS:
        for side, name in (("departure", f"去程行李{i}"), ("return", f"回程行李{i}")):
            out[f"{side}_luggage_value_{i}"] = (
                S.luggage_value_sql(qi(name), b) if name in cols else "CAST(NULL AS DOUBLE)"
            )
            out[f"{side}_luggage_unit_{i}"] = maybe(name, staged(S.luggage_unit_sql))
    for i in LEGS:
        for side, name in (("departure", f"去程_飛行時間{i}"), ("return", f"回程_飛行時間{i}")):
            out[f"{side}_flight_duration_{i}"] = (
                S.duration_to_minutes_sql(qi(name), b) if name in cols else "CAST(NULL AS INT)"
            )
    for i in LEGS:
        out[f"departure_flight_number_{i}"] = maybe(f"去程_航班編號{i}", ident)
        out[f"return_flight_number_{i}"] = maybe(f"回程_航班編號{i}", ident)
        out[f"departure_cabin_class_{i}"] = maybe(f"去程_艙等{i}", ident)
        out[f"return_cabin_class_{i}"] = maybe(f"回程_艙等{i}", ident)

    # A4 transfer counts: a leg counts when its flight number is non-null
    # and not whitespace-only (reference unified_transformer.py:426-436)
    def leg_count(names: list[str]) -> str:
        present = [
            f"CAST(({qi(c)} IS NOT NULL AND trim({qi(c)}) != '') AS INT)"
            for c in names
            if c in cols
        ]
        total = " + ".join(present) if present else "0"
        return f"greatest(0, ({total}) - 1)"

    out["departure_transfer_count"] = leg_count([f"去程_航班編號{i}" for i in LEGS])
    out["return_transfer_count"] = leg_count([f"回程_航班編號{i}" for i in LEGS])

    out["gds_type"] = qi("GDS_Type")
    out["ticket_price"] = qi("機票價錢")
    out["ticket_price_markup_percentage"] = qi("機票價錢加價成數")
    out["tax"] = qi("稅金")
    out["tax_markup_percentage"] = qi("稅金加價成數")
    out["final_price"] = qi("最終價格")
    out["departure_date"] = qi("出發日期")
    out["return_date"] = qi("返回日期")
    out["creation_time"] = qi("建立時間")

    # supplier price/tax (ezfly phantom kept NULL for schema parity, Q5)
    out["ezfly_ticket_price"] = "CAST(NULL AS BIGINT)"
    out["ezfly_tax"] = "CAST(NULL AS BIGINT)"
    for payload in SUPPLIER_PAYLOADS.values():
        for c in payload:
            out[c] = (
                S.guarded_to_long_sql(f"CAST({qi(c)} AS DOUBLE)")
                if c in cols
                else "CAST(NULL AS BIGINT)"
            )

    out["net_price_or_ticket_price"] = qi("淨價或票面")
    out["ticket_rule_type"] = qi("票價規則類型")
    out["kp"] = qi("KP")
    out["discount"] = qi("折扣")
    out["activity_fee_adjustment"] = qi("固定金額")
    return b.apply(df, out, select=True)


def remove_no_tax_rows(df: DataFrame) -> DataFrame:
    """P5 — keep rows where at least one supplier tax is present
    (reference unified_transformer.py:505-516)."""
    taxes = [
        "lion_tax",
        "settour_tax",
        "eztravel_tax",
        "rich_mond_tax",
        "foreign_supplier_eztraval_tax",
    ]
    cond = F.col(taxes[0]).isNotNull()
    for t in taxes[1:]:
        cond = cond | F.col(t).isNotNull()
    return df.filter(cond)


def unify(
    cola: DataFrame,
    set_df: DataFrame,
    lion: DataFrame,
    eztravel: DataFrame,
    f_eztravel: DataFrame,
    rich: DataFrame,
) -> DataFrame:
    """Join -> year re-attach -> 94-col projection -> tax filter -> blank->null
    (reference unified_transformer.py:149-173)."""
    return _project(join_price_and_tax(cola, set_df, lion, eztravel, f_eztravel, rich))


def _project(joined: DataFrame) -> DataFrame:
    """unify past the join."""
    projected = project_output(attach_year(joined))
    return conform.blank_strings_to_null(remove_no_tax_rows(projected))


def dedup_latest(df: DataFrame) -> DataFrame:
    """A2/W1 — per group of all columns but creation_time keep the max
    creation_time row (reference etl/pipeline.py:56 does a global sort +
    drop_duplicates; here a hashed-key window, see operators.windows)."""
    return windows.latest_wins(df, "creation_time")


def load_output(
    df: DataFrame,
    table,
    verify_row: dict[str, object] | None = None,
) -> tuple[int, dict]:
    """The loader stage (reference etl/loader.py:15-96, 197-238): P6 drop
    rows with NULL gds_type (removed count surfaced via a Spark observation,
    the native form of the reference's removed-row warning logs) ->
    versioned overwrite (S5, atomic by construction) -> optional S9
    verification read. Returns (version, metrics)."""
    from pyspark.sql import Observation

    obs = Observation("load_metrics")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.col("gds_type").isNull().cast("long")).alias("removed_null_gds"),
    )
    filtered = observed.filter(F.col("gds_type").isNotNull())
    version = table.overwrite(filtered)
    metrics = dict(obs.get)
    if verify_row is not None:
        # real raise, not assert: S9's post-write verification is
        # load-bearing and must not be strippable by python -O
        if not table.verify_write(df.sparkSession, verify_row):
            raise RuntimeError("post-write verification failed (S9)")
    return version, metrics


def run_pipeline(
    cola: DataFrame,
    set_df: DataFrame,
    lion: DataFrame,
    eztravel: DataFrame,
    f_eztravel: DataFrame,
    rich: DataFrame,
    now_epoch: float | None = None,
) -> DataFrame:
    """Full domanda pipeline as one lazy DAG (sinks applied by the caller).

    The eztravel/foreign split (reference etl/extractor.py:98,109) is the
    caller's filter on 海外供應商 before clean_supplier. The five supplier
    frames are tagged and unioned before their cleaning, so clean_supplier
    and the key normalization each compile once for all five (the same rows
    as cleaning each and then join_price_and_tax).
    """
    cola_c = clean_cola(cola, now_epoch=now_epoch)
    raw = {k: "string" for k in SUPPLIER_RAW_KEYS}
    frames = (set_df, lion, eztravel, f_eztravel, rich)
    sides = {}
    for (name, (price, tax)), df in zip(SUPPLIER_PAYLOADS.items(), frames):
        df = conform.rename_existing(df, {"票面價格": price, "稅金": tax})
        sides[name] = (conform.ensure_columns(df, raw), [price, tax])
    tagged = conform.one_eval_barrier(joins.tag_sides(sides, SUPPLIER_RAW_KEYS))
    return dedup_latest(_project(_join_tagged(cola_c, _clean_supplier_keys(tagged))))
