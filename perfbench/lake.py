"""Seeded flight lake: the six reference-named source tables of the domanda
refresh, with the FIXTURES.md section A mix, plus planted probe rows whose
sink output is known by construction.

Every string column is a small vocabulary indexed by numpy integers
(`pyarrow.Array.take`), so generation is vectorized and takes well under a
second at the benchmark's sizes. Only numpy and pyarrow run here: no Spark
job runs during generation, so the JVM is still cold for the first refresh.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# fixed clocks (SURVEY.md Q4): nothing in a refresh reads the wall clock
NOW_EPOCH = 1_760_000_000.0
CUTOFF_EPOCH = NOW_EPOCH - 12 * 3600

TABLES = {
    "cola": "New_cola_air_tickets_price",
    "set": "New_settour_air_tickets_price",
    "lion": "New_Lion_air_tickets_price",
    "eztravel": "New_Eztravel_air_tickets_price",
    "rich": "New_richmond_air_tickets_price",
}
SUPPLIERS = ("set", "lion", "eztravel", "rich")
LEGS = (1, 2, 3)

AIRLINES = ["CI", "BR", "JX", "CX", "NH", "JL", "KE", "OZ", "SQ", "TG", "MU", "CA"]
N_NUMBERS = 999  # flight numbers 1..999 per airline
CABINS = ["經濟艙 K", "經濟艙 Y", "豪華經濟艙 W", "商務艙 C", "頭等艙 F"]
AIRPORTS = ["TPE 桃園機場", "HKG 香港機場", "NRT 成田機場", "KIX 關西機場", "ICN 仁川機場",
            "BKK 素萬那普機場", "SIN 樟宜機場", "PVG 浦東機場", "KHH 小港機場", "LAX 洛杉磯機場"]
AIRCRAFT = ["A321", "A330-300", "B777-300ER", "B787-9", "A350-900", "B737-800"]
DURATIONS = ["0 days 02:05:00", "01:30:30", "95", "0 days 03:40:00", "04:15:00", "180"]
LUGGAGE = ["1件", "2件", "25 公斤", "30kg", "20 公斤", "無", "23KG"]
PLACEHOLDERS = ["nan", "None", "<NA>", "null", "NaT", "", "  "]
GDS = ["amadeus", "sabre", "galileo", "travelsky", "abacus"]
FARE_TYPES = ["淨價", "票面"]
RULE_TYPES = ["A", "B", "C"]
KP = ["3%", "5%", "0%", "2.5%"]

N_DATES = 150  # departure dates from 2025-11-01 on, so some returns cross the year
N_SLOTS = 96  # 15-minute time slots

# probe rows use an airline code no other row uses
PROBE_AIRLINE = "ZP"


def _output_columns() -> list[str]:
    """The 94 columns of flight_ticket_price_compare (FIXTURES.md A.6)."""
    cols = []
    for d in ("departure", "return"):
        for i in LEGS:
            cols += [f"{d}_{c}_{i}" for c in (
                "airline", "airport", "arrival_airport", "flight_time", "arrival_flight_time",
                "aircraft_type", "luggage_value", "luggage_unit", "flight_duration",
                "flight_number", "cabin_class")]
    cols += ["departure_transfer_count", "return_transfer_count", "gds_type", "ticket_price",
             "ticket_price_markup_percentage", "tax", "tax_markup_percentage", "final_price",
             "departure_date", "return_date", "creation_time", "ezfly_ticket_price", "ezfly_tax",
             "eztravel_ticket_air_tickets_price", "eztravel_tax",
             "foreign_supplier_eztraval_ticket_air_tickets_price", "foreign_supplier_eztraval_tax",
             "lion_air_tickets_price", "lion_tax", "settour_air_tickets_price", "settour_tax",
             "rich_mond_air_tickets_price", "rich_mond_tax", "net_price_or_ticket_price",
             "ticket_rule_type", "kp", "discount", "activity_fee_adjustment"]
    return cols


OUTPUT_COLUMNS = _output_columns()


# xxhash64 over all output columns, as one SQL expression: building it from
# 94 Column objects costs a JVM round trip per column
ROW_HASH_SQL = "xxhash64(" + ", ".join(f"`{c}`" for c in OUTPUT_COLUMNS) + ")"


def content_digest(df) -> tuple[int, int]:
    """Order-insensitive digest of a frame in the output schema: row count
    and the exact sum of xxhash64 over all 94 columns."""
    row = df.selectExpr("count(1)", f"sum(cast({ROW_HASH_SQL} AS decimal(38,0)))").first()
    return int(row[0]), int(row[1] or 0)


def _vocab(values) -> pa.Array:
    return pa.array(list(values), pa.string())


def _dates():
    base = np.datetime64("2025-11-01")
    return [str(base + np.timedelta64(i, "D")) for i in range(N_DATES + 20)]


DATES = _dates()  # 'YYYY-MM-DD'
_SLOT_HHMMSS = [f"{s // 4:02d}:{(s % 4) * 15:02d}:00" for s in range(N_SLOTS)]
# cola timestamps 'YYYY-MM-DD HH:MM:SS', indexed date * N_SLOTS + slot
_TS = _vocab(d + " " + t for d in DATES for t in _SLOT_HHMMSS)
# supplier date forms: canonical, slashed, dotted (all slice to the same MM/DD)
_SUP_DATE = _vocab(
    f for d in DATES for f in (d, d.replace("-", "/"), d.replace("-", "."))
)
_JUNK_DATES = _vocab(["TBD", "11-5", "待定"])


# flight-number vocab: index (a * N_NUMBERS + n - 1) * 3 + variant where
# variant 0 is canonical 'CI073', 1 is pad-needed 'CI73'/'CI7' (canonical for
# n >= 100), 2 is the whitespace/case form ' ci 073 '. All three canonicalize
# to variant 0 (F10), so supplier rows written with any variant still match.
def _fn_vocab() -> pa.Array:
    out = []
    for a in range(len(AIRLINES)):
        for n in range(1, N_NUMBERS + 1):
            canon = f"{AIRLINES[a]}{n:03d}"
            pad = f"{AIRLINES[a]}{n}" if n < 100 else canon
            out += [canon, pad, f" {AIRLINES[a].lower()} {n:03d} "]
    return _vocab(out)


_FN = _fn_vocab()
_INVALID_FN = _vocab(["CI73456", "C7", "ABC12", "BR12345"])
_DIGIT_FN = _vocab([f"{d}{n}" for d in ("73", "88", "61") for n in range(100, 140)])


def _take(vocab: pa.Array, idx: np.ndarray, null_mask: np.ndarray | None = None) -> pa.Array:
    arr = vocab.take(pa.array(idx.astype(np.int64)))
    if null_mask is not None and null_mask.any():
        arr = pa.array(arr.to_numpy(zero_copy_only=False), pa.string(), mask=null_mask)
    return arr


class Itineraries:
    """A pool of 14-key itineraries: per leg and direction a flight number
    and cabin, plus departure/return dates and per-leg time slots."""

    def __init__(self, rng: np.random.Generator, n: int):
        self.n = n
        n_fn = len(AIRLINES) * N_NUMBERS
        self.fn = {(d, i): rng.integers(0, n_fn, n) for d in "dr" for i in LEGS}
        self.cabin = {(d, i): rng.integers(0, len(CABINS), n) for d in "dr" for i in LEGS}
        # legs 2-3 NULL in ~50% of rows: leg 2 present in half, leg 3 in a quarter
        u = rng.random(n)
        self.legs = np.where(u < 0.5, 1, np.where(u < 0.75, 2, 3))
        self.dep_date = rng.integers(0, N_DATES, n)
        self.ret_date = self.dep_date + rng.integers(2, 15, n)
        self.slot = {(d, i): rng.integers(0, N_SLOTS - 16, n) for d in "dr" for i in LEGS}


def _cola_table(rng, it: Itineraries, rows: np.ndarray) -> dict[str, pa.Array]:
    """Cola spine columns for itinerary indices `rows`."""
    m = len(rows)
    cols: dict[str, pa.Array] = {}
    legs = it.legs[rows]
    for i in LEGS:
        absent = legs < i
        # absent legs: NULL, or a literal placeholder in ~5% of all rows
        ph = absent & (rng.random(m) < 0.1)
        for d, pre in (("d", "去程"), ("r", "回程")):
            date = it.dep_date[rows] if d == "d" else it.ret_date[rows]
            fn = _take(_FN, it.fn[(d, i)][rows] * 3, absent & ~ph)
            fn = _with_placeholders(rng, fn, ph)
            cols[f"{pre}航班編號{i}"] = fn
            cab = _take(_vocab(CABINS), it.cabin[(d, i)][rows], absent & ~ph)
            cols[f"{pre}艙等與艙等編碼{i}"] = _with_placeholders(rng, cab, ph)
            slot = it.slot[(d, i)][rows]
            cols[f"{pre}起飛時間{i}"] = _take(_TS, date * N_SLOTS + slot, absent)
            cols[f"{pre}降落時間{i}"] = _take(_TS, date * N_SLOTS + slot + 8, absent)
            cols[f"{pre}起飛機場{i}"] = _take(_vocab(AIRPORTS), rng.integers(0, len(AIRPORTS), m), absent)
            cols[f"{pre}降落機場{i}"] = _take(_vocab(AIRPORTS), rng.integers(0, len(AIRPORTS), m), absent)
            cols[f"{pre}飛機公司及型號{i}"] = _take(_vocab(AIRCRAFT), rng.integers(0, len(AIRCRAFT), m), absent)
            cols[f"{pre}飛行時間{i}"] = _take(_vocab(DURATIONS), rng.integers(0, len(DURATIONS), m), absent)
            cols[f"{pre}行李{i}"] = _take(_vocab(LUGGAGE), rng.integers(0, len(LUGGAGE), m), absent)
    price = np.round(rng.uniform(3000, 60000, m), 0)
    cols["基礎票價"] = pa.array(price)
    cols["票價加價成數"] = pa.array(np.round(rng.uniform(0, 0.2, m), 2))
    # 總售價 is the cola scan's not-null predicate: ~2% NULL rows are filtered
    cols["總售價"] = pa.array(np.round(price * 1.1, 0), mask=rng.random(m) < 0.02)
    cols["稅金"] = pa.array(np.round(rng.uniform(500, 4000, m), 0))
    cols["稅金加價成數"] = pa.array(np.round(rng.uniform(0, 0.1, m), 2))
    cols["票型"] = _take(_vocab(FARE_TYPES), rng.integers(0, 2, m))
    cols["公式類型"] = _take(_vocab(RULE_TYPES), rng.integers(0, 3, m))
    # ~5% NULL GDS Type: dropped before the sink (P6)
    cols["GDS Type"] = _take(_vocab(GDS), rng.integers(0, len(GDS), m), rng.random(m) < 0.05)
    cols["折讓百分比"] = _take(_vocab(KP), rng.integers(0, len(KP), m))
    cols["折扣"] = pa.array(np.round(rng.uniform(0, 300, m), 0))
    cols["固定金額"] = pa.array(np.round(rng.uniform(0, 100, m), 0))
    # creation times inside the 12 h window, ~5% stale rows before the cutoff
    created = NOW_EPOCH - rng.integers(0, 11 * 3600, m).astype(float)
    stale = rng.random(m) < 0.05
    created[stale] = CUTOFF_EPOCH - rng.integers(1, 3600, stale.sum())
    cols["建立時間"] = pa.array(created)
    return cols


def _with_placeholders(rng, arr: pa.Array, mask: np.ndarray) -> pa.Array:
    if not mask.any():
        return arr
    vals = arr.to_numpy(zero_copy_only=False).astype(object)
    vals[mask] = np.array(PLACEHOLDERS, dtype=object)[rng.integers(0, len(PLACEHOLDERS), mask.sum())]
    return pa.array(vals, pa.string())


def _supplier_table(rng, it: Itineraries, rows: np.ndarray, foreign: np.ndarray | None) -> dict[str, pa.Array]:
    """Supplier columns (settour shape) for itinerary indices `rows`."""
    m = len(rows)
    cols: dict[str, pa.Array] = {}
    date_form = rng.integers(0, 3, m)
    for key, pre, date in (("去程日期", "d", it.dep_date), ("回程日期", "r", it.ret_date)):
        arr = _take(_SUP_DATE, date[rows] * 3 + date_form)
        junk = rng.random(m) < 0.01  # unparseable dates: kept verbatim, never match
        if junk.any():
            vals = arr.to_numpy(zero_copy_only=False).astype(object)
            vals[junk] = _JUNK_DATES.take(pa.array(rng.integers(0, len(_JUNK_DATES), junk.sum()))).to_pylist()
            arr = pa.array(vals, pa.string())
        cols[key] = arr
    cols["票面價格"] = pa.array(np.round(rng.uniform(2500, 55000, m), 2), mask=rng.random(m) < 0.02)
    # supplier tax NULL in ~20% of rows (no-tax removal, P5)
    cols["稅金"] = pa.array(np.round(rng.uniform(400, 3800, m), 2), mask=rng.random(m) < 0.2)
    legs = it.legs[rows]
    for i in LEGS:
        absent = legs < i
        for d, pre in (("d", "去程"), ("r", "回程")):
            variant = rng.integers(0, 3, m)
            cols[f"{pre}航班編號{i}"] = _take(_FN, it.fn[(d, i)][rows] * 3 + variant, absent)
            cab = _take(_vocab([c.replace(" ", "") for c in CABINS] + CABINS),
                        it.cabin[(d, i)][rows] + len(CABINS) * rng.integers(0, 2, m), absent)
            # placeholders go into cabin keys only: in a flight-number key
            # the validity filter (P4) would drop the row
            cols[f"{pre}艙等{i}"] = _with_placeholders(rng, cab, absent & (rng.random(m) < 0.1))
    # ~1% invalid flight numbers (row removed, P4), ~1% digit-prefixed valid ones
    fn1 = cols["去程航班編號1"].to_numpy(zero_copy_only=False).astype(object)
    bad = rng.random(m) < 0.01
    fn1[bad] = _INVALID_FN.take(pa.array(rng.integers(0, len(_INVALID_FN), bad.sum()))).to_pylist()
    digit = ~bad & (rng.random(m) < 0.01)
    fn1[digit] = _DIGIT_FN.take(pa.array(rng.integers(0, len(_DIGIT_FN), digit.sum()))).to_pylist()
    cols["去程航班編號1"] = pa.array(fn1, pa.string())
    crawl = NOW_EPOCH - rng.integers(0, 11 * 3600, m)
    stale = rng.random(m) < 0.05
    crawl[stale] = CUTOFF_EPOCH - rng.integers(1, 3600, stale.sum())
    cols["crawl_time"] = pa.array([str(int(c)) for c in crawl], pa.string())
    if foreign is not None:
        cols["海外供應商"] = pa.array(foreign)
    return cols


def _concat(parts: list[dict[str, pa.Array]]) -> pa.Table:
    return pa.table({n: pa.concat_arrays([p[n] for p in parts]) for n in parts[0]})


def _dup_rows(rng, table: pa.Table, share: float, vary: str | None) -> pa.Table:
    """Append exact duplicates (source DISTINCT) or, with `vary`, near-
    duplicates differing only in that column (latest-wins dedup)."""
    k = int(table.num_rows * share)
    idx = pa.array(rng.integers(0, table.num_rows, k))
    dup = table.take(idx)
    if vary is not None:
        col = dup.column(vary)
        if pa.types.is_string(col.type):
            new = pa.array([str(int(v) - 60) if v is not None else None for v in col.to_pylist()], pa.string())
        else:
            new = pa.array(np.asarray(col.to_numpy(zero_copy_only=False), dtype=float) - 600.0)
        dup = dup.set_column(dup.schema.get_field_index(vary), vary, new)
    return pa.concat_tables([table, dup])


def generate(out_dir: str, seed: int, n_cola: int) -> dict:
    """Write the six source tables (eztravel holds both 海外供應商 splits) to
    `out_dir` and return the generation facts the checks need."""
    rng = np.random.default_rng(seed)
    it = Itineraries(rng, int(n_cola * 1.5))
    shared = int(n_cola * 0.75)  # itineraries [0, shared) appear in cola
    cola_rows = rng.integers(0, shared, n_cola)
    cola = _cola_table(rng, it, cola_rows)
    cola = _concat([cola, *[_cola_probe(p, cola) for p in PROBES]])
    cola = _dup_rows(rng, cola, 0.02, None)
    cola = _dup_rows(rng, cola, 0.05, "建立時間")
    tables = {"cola": cola}
    for sup in SUPPLIERS:
        m = max(1, n_cola // 5)
        # ~60% share a cola key, ~10% duplicate another row's key, rest orphans
        u = rng.random(m)
        rows = np.where(u < 0.6, rng.integers(0, shared, m), rng.integers(shared, it.n, m))
        dup = u >= 0.9
        rows[dup] = rows[rng.integers(0, m, dup.sum())]
        foreign = (rng.random(m) < 0.3) if sup == "eztravel" else None
        t = _supplier_table(rng, it, rows, foreign)
        t = _concat([t, *[_supplier_probe(p, sup, t) for p in PROBES if sup in p["suppliers"]]])
        t = _dup_rows(rng, t, 0.02, None)
        t = _dup_rows(rng, t, 0.03, "crawl_time")
        tables[sup] = t
    os.makedirs(out_dir, exist_ok=True)
    scanned = {}
    in_bytes = 0
    for key, t in tables.items():
        path = os.path.join(out_dir, f"{TABLES[key]}.parquet")
        pq.write_table(t, path)
        scanned[key] = t.num_rows
        in_bytes += os.path.getsize(path)
    return {"rows_scanned": sum(scanned.values()), "input_file_bytes": in_bytes, "tables": scanned}


# ---------------------------------------------------------------------------
# Probe rows. Each probe is one itinerary with a unique leg-1 departure flight
# number (airline ZP), a fixed cola row (or near-duplicate pair) and supplier
# rows chosen so that its sink output follows from the pipeline's rules alone.
# `expect` lists the probe's output rows as {column: value} over the columns
# the probe is about; every other column equals PROBE_COMMON_OUT or is NULL.

def _probe(n: int, **kw) -> dict:
    return {"fn": f"{PROBE_AIRLINE}{n:03d}", "ret_fn": f"{PROBE_AIRLINE}{n + 500:03d}", **kw}


PROBES = [
    # latest-wins near-duplicate: two cola rows differing only in 建立時間
    _probe(11, created=[NOW_EPOCH - 7200, NOW_EPOCH - 60], suppliers={"set": [(5100.9, 1210.4)]},
           expect=[{"creation_time": NOW_EPOCH - 60, "settour_air_tickets_price": 5100, "settour_tax": 1210}]),
    # duplicate-key fan-out: two lion offers for one cola row
    _probe(12, suppliers={"lion": [(5050.0, 1190.0), (5075.5, 1195.0)]},
           expect=[{"lion_air_tickets_price": 5050, "lion_tax": 1190},
                   {"lion_air_tickets_price": 5075, "lion_tax": 1195}]),
    # no supplier tax anywhere: removed before the sink (P5)
    _probe(13, suppliers={"rich": [(5200.0, None)]}, expect=[]),
    # placeholder keys ('nan'/'None' on cola leg 2) match NULL supplier legs;
    # both 海外供應商 splits of eztravel match
    _probe(14, leg2_placeholder=True,
           suppliers={"eztravel": [(8800.0, 790.0, False), (9100.0, 810.0, True)]},
           expect=[{"eztravel_ticket_air_tickets_price": 8800, "eztravel_tax": 790,
                    "foreign_supplier_eztraval_ticket_air_tickets_price": 9100,
                    "foreign_supplier_eztraval_tax": 810}]),
    # invalid leg-2 flight number on both sides: the settour row is dropped
    # (P4), so the cola row has no supplier tax left and is removed too
    _probe(15, leg2_fn="CI73456", suppliers={"set": [(4000.0, 900.0)]}, expect=[]),
    # NULL GDS Type: dropped at load (P6)
    _probe(16, gds=None, suppliers={"set": [(5300.0, 1300.0)]}, expect=[]),
]

_PROBE_COLA = {
    "去程艙等與艙等編碼1": "經濟艙 K", "回程艙等與艙等編碼1": "商務艙 C",
    "去程起飛時間1": "2025-12-30 19:15:00", "去程降落時間1": "2025-12-30 21:15:00",
    "回程起飛時間1": "2026-01-02 09:00:00", "回程降落時間1": "2026-01-02 11:00:00",
    "去程起飛機場1": "TPE 桃園機場", "去程降落機場1": "HKG 香港機場",
    "回程起飛機場1": "HKG 香港機場", "回程降落機場1": "TPE 桃園機場",
    "去程飛機公司及型號1": "A321", "回程飛機公司及型號1": "A330-300",
    "去程飛行時間1": "0 days 02:05:00", "回程飛行時間1": "01:30:30",
    "去程行李1": "25 公斤", "回程行李1": "1件",
    "基礎票價": 5000.0, "票價加價成數": 0.1, "總售價": 6200.0, "稅金": 1200.0,
    "稅金加價成數": 0.05, "票型": "淨價", "公式類型": "A", "GDS Type": "amadeus",
    "折讓百分比": "3%", "折扣": 100.0, "固定金額": 50.0,
}

# The output every probe row shares, derived by hand from _PROBE_COLA through
# the cleaning (F5/F6/F11), projection (P7) and blank->NULL (P11) rules.
PROBE_COMMON_OUT = {
    "departure_airline_1": PROBE_AIRLINE, "return_airline_1": PROBE_AIRLINE,
    "departure_airport_1": "TPE", "departure_arrival_airport_1": "HKG",
    "return_airport_1": "HKG", "return_arrival_airport_1": "TPE",
    "departure_flight_time_1": "19:15", "departure_arrival_flight_time_1": "21:15",
    "return_flight_time_1": "09:00", "return_arrival_flight_time_1": "11:00",
    "departure_aircraft_type_1": "A321", "return_aircraft_type_1": "A330-300",
    "departure_luggage_value_1": 25.0, "departure_luggage_unit_1": "公斤",
    "return_luggage_value_1": 1.0, "return_luggage_unit_1": "件",
    "departure_flight_duration_1": 125, "return_flight_duration_1": 91,
    "departure_cabin_class_1": "經濟艙K", "return_cabin_class_1": "商務艙C",
    "departure_transfer_count": 0, "return_transfer_count": 0,
    "gds_type": "amadeus", "ticket_price": 5000.0, "ticket_price_markup_percentage": 0.1,
    "tax": 1200.0, "tax_markup_percentage": 0.05, "final_price": 6200.0,
    "departure_date": "2025/12/30", "return_date": "2026/01/02",
    "creation_time": NOW_EPOCH - 60,
    "net_price_or_ticket_price": "淨價", "ticket_rule_type": "A", "kp": "3%",
    "discount": 100.0, "activity_fee_adjustment": 50.0,
}


def _cola_probe(p: dict, like: dict[str, pa.Array]) -> dict[str, pa.Array]:
    rows = []
    for created in p.get("created", [NOW_EPOCH - 60]):
        r = dict(_PROBE_COLA)
        r["去程航班編號1"], r["回程航班編號1"], r["建立時間"] = p["fn"], p["ret_fn"], created
        if "gds" in p:
            r["GDS Type"] = p["gds"]
        if p.get("leg2_placeholder"):
            r["去程航班編號2"], r["去程艙等與艙等編碼2"] = "nan", "None"
        if "leg2_fn" in p:
            r["去程航班編號2"] = p["leg2_fn"]
        rows.append(r)
    return _rows_like(rows, like)


def _supplier_probe(p: dict, sup: str, like: dict[str, pa.Array]) -> dict[str, pa.Array]:
    rows = []
    for offer in p["suppliers"][sup]:
        price, tax = offer[0], offer[1]
        r = {
            "去程日期": "2025-12-30", "回程日期": "2026/01/02", "票面價格": price, "稅金": tax,
            # pad-needed ('ZP11') and whitespace/case (' zp511 ') forms
            # canonicalize to the cola row's flight numbers
            "去程航班編號1": p["fn"][:2] + str(int(p["fn"][2:])),
            "去程艙等1": "經濟艙K", "回程航班編號1": " " + p["ret_fn"].lower() + " ",
            "回程艙等1": "商務艙 C", "crawl_time": str(int(NOW_EPOCH - 30)),
        }
        if "leg2_fn" in p:
            r["去程航班編號2"] = p["leg2_fn"]
        if sup == "eztravel":
            r["海外供應商"] = offer[2]
        rows.append(r)
    return _rows_like(rows, like)


def _rows_like(rows: list[dict], like: dict[str, pa.Array]) -> dict[str, pa.Array]:
    """`rows` as columns with the names and types of `like`."""
    return {c: pa.array([r.get(c) for r in rows], a.type) for c, a in like.items()}


def probe_expected() -> dict[str, list[dict]]:
    """Leg-1 departure flight number -> the full expected output rows."""
    out = {}
    for p in PROBES:
        rows = []
        for e in p["expect"]:
            r = dict.fromkeys(OUTPUT_COLUMNS)
            r.update(PROBE_COMMON_OUT)
            r["departure_flight_number_1"], r["return_flight_number_1"] = p["fn"], p["ret_fn"]
            r.update(e)
            rows.append(r)
        out[p["fn"]] = rows
    return out
