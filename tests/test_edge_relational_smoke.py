"""Round-8 edge RELATIONAL fixture crash smoke (round-7 verdict item 2).

The round-7 edge-corpus probe covered only the 62 document-path queries
and immediately found two latent ANSI crashes the clean fixtures could
never show. The other ~160 queries read orders/lineitem/events/customer
fixtures that are equally clean — this module gives them the same
treatment: a full fixture-set directory whose every table carries the
shapes the generator never produces:

- empty partitions (a zero-row parquet part-file inside the table dir);
- all-null optional columns (customer.c_acctbal/c_mktsegment,
  events.value, lineitem.l_shipdate/l_returnflag/l_linestatus,
  orders.o_orderstatus/o_orderdate/o_orderpriority);
- single-row tables (supplier);
- zero and negative prices/quantities/balances, a 1.0 (=100%) discount;
- unicode and empty-string names (part, nation, region, events);
- single-customer / single-user corpora (every non-orphan order belongs
  to custkey 1; every event to user 7, five of them at the IDENTICAL
  nanosecond — zero-duration sessions);
- orphan foreign keys in both directions (an order whose customer does
  not exist, a lineitem whose order does not exist, an order with no
  lineitems, a nation pointing at a missing region);
- a zero-norm embedding, bit-identical duplicate embeddings, a null
  label, and fewer vectors than the ANN default k;
- malformed / empty / null JSON in events.props.

The slow test runs EVERY catalog entry; all tables exist, so nothing
may skip — any raise is a regression to fix symmetrically in both
engines (the round-7 discipline).

ELEVEN whole-catalog fixture classes by round 10: hostile values,
empty tables, time edges, float edges (NaN/±Inf/-0.0), hot-key skew,
magnitude edges (finite beyond exact domains), TEXT edges (Unicode
case-mapping traps, whitespace zoo, NUL, huge tokens, ZWJ/astral,
RTL, NFC/NFD, non-ASCII digits, byte-vs-codepoint levenshtein, the
JSON value zoo), VECTOR shapes (malformed embeddings), SHUFFLED
LAYOUT (identical data, permuted rows across many part files —
layout-independent determinism), and the COMBINED corpus (all
composable classes merged + skewed + shuffled + empty part files).

SWEEP ROSTER TRIMMED round 11 (verdict item 5 — the suite must not
grow unboundedly as classes accumulate): the standalone SHUFFLED-
LAYOUT and HOT-KEY-SKEW sweeps are retired because the combined
builder literally runs their fixture builders on the merged corpus
(build_shuffled_layout_fixture + build_skew_fixture), so their
divergence classes are swept every run under strictly more hostile
interaction. The EMPTY-TABLES sweep is deliberately KEPT despite the
verdict listing it as subsumed: whole-corpus zero-row tables CANNOT
compose into the combined fixture (zero rows contradict carrying
hostile values — see build_combined_edge_fixture's docstring), and
the grouping-sets-on-empty-input / NULL-printf / zero-row-finisher
divergences it pinned in round 8 are only reachable with genuinely
empty TABLES, not the combined corpus's empty PART FILES. It is also
the cheapest sweep (every query runs over zero rows). The five
value-domain single-class sweeps (time, float, magnitude, text,
vector) stay: their pins are domain guards whose failures are easiest
to localize class-by-class.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kafka_avro_order_processor_eg_4131_spark.operators import cache as C

_US = "us"
_NS = "ns"


def _write(d, name: str, table: pa.Table, with_empty_file: bool = False) -> None:
    """Write ``table`` as a directory ``<name>.parquet/`` of part files,
    optionally including a ZERO-ROW file — the empty-partition shape a
    multi-writer cluster job produces all the time and the clean
    single-file fixtures never do."""
    tdir = d / f"{name}.parquet"
    tdir.mkdir()
    pq.write_table(table, str(tdir / "part-0.parquet"))
    if with_empty_file:
        pq.write_table(table.slice(0, 0), str(tdir / "part-1-empty.parquet"))


def _ts(s: str, unit: str = _US):
    import datetime as dt

    return None if s is None else dt.datetime.fromisoformat(s)


_LONG_A = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    " kilo lima mike november oscar papa quebec romeo sierra tango"
)


def build_edge_rel_fixture(
    d,
    empty: bool = False,
    time_edges: bool = False,
    float_edges: bool = False,
    magnitude_edges: bool = False,
    text_edges: bool = False,
    vector_edges: bool = False,
) -> None:
    """Write the full edge fixture set under ``d`` (a pathlib.Path).
    Pure pyarrow — callable from scripts as well as the pytest fixture
    (ad-hoc probing needs it outside pytest).

    ``empty=True`` writes every table with ITS REAL SCHEMA but zero
    rows — the empty-day-partition shape (a source with no data yet) —
    by slicing each table to 0 before writing.

    ``time_edges=True`` swaps the three time-bearing tables for
    variants whose timestamps span pre-epoch (negative epoch values),
    pre-1900, and far-future instants, with duplicate-nanosecond ties,
    NULL timestamps, and shipdates BEFORE their order dates — all
    within pandas' representable ns range [1677, 2262], since the
    parity harness (and the driver's) interchanges through Arrow/
    pandas; wider dates break the COMPARISON layer, not the engines.

    ``float_edges=True`` swaps the four float-bearing tables for
    variants carrying NaN, +Inf, -Inf, and -0.0 in o_totalprice,
    l_extendedprice/l_discount, events.value, and embedding
    components — the round-9 fifth fixture class. Spark and DuckDB
    are KNOWN to disagree here (NaN->DECIMAL casts crash DuckDB,
    Spark normalizes -0.0 in group keys where DuckDB keeps the
    first-seen sign, printf renders NaN/Infinity differently), so
    every divergence found by the parity sweep is fixed
    symmetrically to one pinned semantics."""
    global _write
    orig_write = _write
    if empty:
        def _write(dd, name, table, with_empty_file=False):  # noqa: F811
            orig_write(dd, name, table.slice(0, 0), with_empty_file=False)
    try:
        _build_tables(d)
    finally:
        _write = orig_write
    if time_edges and not empty:
        _time_edge_overrides(d)
    if float_edges and not empty:
        _float_edge_overrides(d)
    if magnitude_edges and not empty:
        _magnitude_edge_overrides(d)
    if text_edges and not empty:
        _text_edge_overrides(d)
    if vector_edges and not empty:
        _vector_edge_overrides(d)


def _time_edge_overrides(d) -> None:
    """Replace events/orders/lineitem with the time-edge variants."""
    import shutil

    def rewrite(name, table):
        shutil.rmtree(d / f"{name}.parquet")
        (d / f"{name}.parquet").mkdir()
        pq.write_table(table, str(d / f"{name}.parquet" / "part-0.parquet"))

    T = _ts
    rewrite("events", pa.table({
        "event_id": pa.array(list(range(1, 9)), pa.int64()),
        # duplicate pre-epoch instants, 1883, epoch zero, far future
        "ts": pa.array(
            [T("1969-12-31T23:59:59.999999"), T("1969-12-31T23:59:59.999999"),
             T("1969-07-20T20:17:40"), T("1883-11-18T12:00:00"),
             T("1970-01-01T00:00:00"), T("2200-01-01T00:00:00"),
             T("1969-06-01T00:00:00"), None],
            pa.timestamp(_NS)),
        "user_id": pa.array([7, 7, 7, 7, 7, 8, 8, 8], pa.int64()),
        "event_type": pa.array(
            ["click", "view", "purchase", "click", "view", "purchase",
             "click", "error"], pa.string()),
        "value": pa.array(
            [1.0, -2.5, 0.0, None, 3.25, 1e9, -1e9, 2.0], pa.float64()),
        "props": pa.array(['{"k": 1}'] * 8, pa.string()),
    }))
    rewrite("orders", pa.table({
        "o_orderkey": pa.array([100, 101, 102, 103, 104, 105], pa.int64()),
        "o_custkey": pa.array([1, 1, 1, 1, 99, 1], pa.int64()),
        "o_orderstatus": pa.array(["F", "O", "F", "F", "F", "O"], pa.string()),
        "o_totalprice": pa.array(
            [10.0, 20.0, 30.0, 40.0, 50.0, 60.0], pa.float64()),
        "o_orderdate": pa.array(
            [T("1969-12-31"), T("1900-01-01"), T("1700-01-01"),
             T("2200-12-31"), T("1969-01-01"), None], pa.timestamp(_US)),
        "o_orderpriority": pa.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
             "1-URGENT"], pa.string()),
    }))
    rewrite("lineitem", pa.table({
        "l_orderkey": pa.array([100, 101, 102, 103, 104, 105, 100], pa.int64()),
        "l_partkey": pa.array([1, 2, 3, 4, 1, 2, 3], pa.int64()),
        "l_suppkey": pa.array([1] * 7, pa.int64()),
        "l_linenumber": pa.array([1, 1, 1, 1, 1, 1, 2], pa.int32()),
        "l_quantity": pa.array([1.0] * 7, pa.float64()),
        "l_extendedprice": pa.array([10.0] * 7, pa.float64()),
        "l_discount": pa.array([0.0] * 7, pa.float64()),
        "l_tax": pa.array([0.0] * 7, pa.float64()),
        "l_returnflag": pa.array(["N"] * 7, pa.string()),
        "l_linestatus": pa.array(["O"] * 7, pa.string()),
        # shipdates BEFORE their order dates (negative latency),
        # pre-epoch, far future, and NULL
        "l_shipdate": pa.array(
            [T("1969-12-30"), T("1899-12-31"), T("1700-01-05"),
             T("2200-12-31"), T("1968-12-31"), T("1970-01-02"), None],
            pa.timestamp(_US)),
    }))


def _float_edge_overrides(d) -> None:
    """Replace orders/lineitem/events/embeddings with float-edge
    variants: the SAME keys, statuses, and dates as the base edge
    fixture (so the orphan-FK / null-status shapes stay), but every
    float-bearing column now carries NaN, +Inf, -Inf, and -0.0 —
    plus one order with a LONE NULL o_totalprice (non-null key and
    priority), the row the round-8 advice flagged as unreachable by
    every earlier fixture."""
    import shutil

    def rewrite(name, table):
        shutil.rmtree(d / f"{name}.parquet")
        (d / f"{name}.parquet").mkdir()
        pq.write_table(table, str(d / f"{name}.parquet" / "part-0.parquet"))

    NAN, PINF, NINF = float("nan"), float("inf"), float("-inf")
    T = _ts
    rewrite("customer", pa.table({
        "c_custkey": pa.array([1, 2], pa.int64()),
        "c_name": pa.array(["Customer#EDGE", "Z☃"], pa.string()),
        "c_nationkey": pa.array([0, 1], pa.int32()),
        # NaN and +Inf balances (base edge fixture covers NULL/negative)
        "c_acctbal": pa.array([NAN, PINF], pa.float64()),
        "c_mktsegment": pa.array([None, ""], pa.string()),
    }))
    rewrite("part", pa.table({
        "p_partkey": pa.array([1, 2, 3, 4], pa.int64()),
        "p_name": pa.array(
            ["ümläut wídget 中文", "emoji \U0001f600 bolt", "", "plain part"],
            pa.string()),
        "p_brand": pa.array(["Brand#1", "", "Brand#1", "Brand#2"], pa.string()),
        "p_type": pa.array(["PROMO", None, "ECONOMY", "STANDARD"], pa.string()),
        "p_size": pa.array([0, -5, 50, 1], pa.int32()),
        "p_retailprice": pa.array([NAN, NINF, PINF, -0.0], pa.float64()),
    }))
    rewrite("orders", pa.table({
        "o_orderkey": pa.array([100, 101, 102, 103, 104, 105], pa.int64()),
        "o_custkey": pa.array([1, 1, 1, 1, 99, 1], pa.int64()),
        "o_orderstatus": pa.array(["F", "O", None, "F", "F", "O"], pa.string()),
        # NaN / +Inf / -Inf / -0.0 / finite / lone-NULL price
        "o_totalprice": pa.array(
            [NAN, PINF, NINF, -0.0, 123.45, None], pa.float64()),
        "o_orderdate": pa.array(
            [T("1995-01-01"), T("1995-01-01"), None, T("2099-12-31"),
             T("1995-06-01"), T("1995-06-01")], pa.timestamp(_US)),
        "o_orderpriority": pa.array(
            ["1-URGENT", None, "5-LOW", "2-HIGH", "3-MEDIUM", "3-MEDIUM"],
            pa.string()),
    }))
    rewrite("lineitem", pa.table({
        "l_orderkey": pa.array([100, 100, 101, 102, 103, 999, 104], pa.int64()),
        "l_partkey": pa.array([1, 2, 3, 4, 1, 1, 2], pa.int64()),
        "l_suppkey": pa.array([1] * 7, pa.int64()),
        "l_linenumber": pa.array([1, 2, 1, 1, 1, 1, 1], pa.int32()),
        "l_quantity": pa.array([0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0], pa.float64()),
        # NaN / +Inf / -Inf / -0.0 / 0.0 / finite / negative prices;
        # inf * (1 - 1.0) = inf * 0 = NaN in the revenue term (IEEE,
        # identical in both engines); -0.0 discount
        "l_extendedprice": pa.array(
            [NAN, PINF, NINF, -0.0, 0.0, 50.0, -60.0], pa.float64()),
        "l_discount": pa.array(
            [0.0, 1.0, 0.05, -0.0, 0.02, 0.0, 0.1], pa.float64()),
        "l_tax": pa.array([0.0, 0.1, 0.0, 0.08, 0.01, 0.0, 0.02], pa.float64()),
        "l_returnflag": pa.array(["R", "N", "A", None, "R", "N", "N"], pa.string()),
        "l_linestatus": pa.array(["F", "O", "F", None, "F", "O", "O"], pa.string()),
        "l_shipdate": pa.array(
            [T("1995-01-02"), T("1995-01-03"), None, T("1995-02-01"),
             T("2099-12-31"), T("1995-03-01"), T("1995-03-02")],
            pa.timestamp(_US)),
    }))
    rewrite("events", pa.table({
        "event_id": pa.array(list(range(1, 9)), pa.int64()),
        "ts": pa.array(
            [_ts("2024-01-01T00:00:00")] * 5
            + [_ts("2024-01-01T00:00:01"), _ts("2024-01-05T12:00:00"),
               _ts("2024-02-01T00:00:00")], pa.timestamp(_NS)),
        "user_id": pa.array([7] * 8, pa.int64()),
        "event_type": pa.array(
            ["", None, "клик", "purchase", "view", "view", "click", "error"],
            pa.string()),
        "value": pa.array(
            [NAN, PINF, NINF, -0.0, 0.0, 2.5, None, -1.5], pa.float64()),
        "props": pa.array(
            [None, "", "not json", '{"k": 1}', "{}", '{"k": -3}', "[]", "{"],
            pa.string()),
    }))
    dim = 64
    zero = [0.0] * dim
    same = [0.1] * dim
    nan_vec = [float("nan")] + [0.1] * (dim - 1)
    inf_vec = [1.0, float("inf")] + [0.0] * (dim - 2)
    negzero = [-0.0] * dim  # signed zero norm: sqrt(-0.0) = -0.0
    rewrite("embeddings", pa.table({
        "vec_id": pa.array([1, 2, 3, 4, 5, 6], pa.int64()),
        "embedding": pa.array(
            [zero, same, same, nan_vec, inf_vec, negzero],
            pa.list_(pa.float32())),
        "label": pa.array([0, 0, 0, None, 0, 0], pa.int32()),
    }))


def _magnitude_edge_overrides(d) -> None:
    """Replace the three money/value tables with MAGNITUDE variants:
    finite values straddling the engine's documented numeric domains —
    the dsum saturation bound (1e23), the cents-domain BIGINT bound
    (9e18/scale), and 1e300 (finite but beyond every exact domain).
    All in-domain values are exact powers/multiples of ten, which are
    exactly representable doubles with cast-portable decimal images at
    any magnitude up to 1e22 (full-entropy doubles beyond ~1e9 are NOT
    cast-portable — see catalog.DSUM_BOUND's docstring)."""
    import shutil

    def rewrite(name, table):
        shutil.rmtree(d / f"{name}.parquet")
        (d / f"{name}.parquet").mkdir()
        pq.write_table(table, str(d / f"{name}.parquet" / "part-0.parquet"))

    T = _ts
    rewrite("orders", pa.table({
        "o_orderkey": pa.array([100, 101, 102, 103, 104, 105], pa.int64()),
        "o_custkey": pa.array([1, 1, 1, 1, 99, 1], pa.int64()),
        "o_orderstatus": pa.array(["F", "O", None, "F", "F", "O"], pa.string()),
        # 1e300 (beyond everything), ±1e22 (dsum-in, cents-out),
        # 5e17 (dsum-in, cents-out), 1e12 (cents-in), 123.45 (plain)
        "o_totalprice": pa.array(
            [1e300, 1e22, -1e22, 5e17, 1e12, 123.45], pa.float64()),
        "o_orderdate": pa.array(
            [T("1995-01-01"), T("1995-01-01"), None, T("2099-12-31"),
             T("1995-06-01"), T("1995-06-01")], pa.timestamp(_US)),
        "o_orderpriority": pa.array(
            ["1-URGENT", None, "5-LOW", "2-HIGH", "3-MEDIUM", "3-MEDIUM"],
            pa.string()),
    }))
    rewrite("lineitem", pa.table({
        "l_orderkey": pa.array([100, 100, 101, 102, 103, 999, 104], pa.int64()),
        "l_partkey": pa.array([1, 2, 3, 4, 1, 1, 2], pa.int64()),
        "l_suppkey": pa.array([1] * 7, pa.int64()),
        "l_linenumber": pa.array([1, 2, 1, 1, 1, 1, 1], pa.int32()),
        "l_quantity": pa.array([0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0], pa.float64()),
        # -1e300, saturation straddlers ±2e23/9e22 (dsum-out/in), 1e20
        "l_extendedprice": pa.array(
            [-1e300, 2e23, -2e23, 9e22, 1e20, 50.0, -60.0], pa.float64()),
        "l_discount": pa.array(
            [0.0, 1.0, 0.05, 0.0, 0.02, 0.0, 0.1], pa.float64()),
        "l_tax": pa.array([0.0, 0.1, 0.0, 0.08, 0.01, 0.0, 0.02], pa.float64()),
        "l_returnflag": pa.array(["R", "N", "A", None, "R", "N", "N"], pa.string()),
        "l_linestatus": pa.array(["F", "O", "F", None, "F", "O", "O"], pa.string()),
        "l_shipdate": pa.array(
            [T("1995-01-02"), T("1995-01-03"), None, T("1995-02-01"),
             T("2099-12-31"), T("1995-03-01"), T("1995-03-02")],
            pa.timestamp(_US)),
    }))
    rewrite("events", pa.table({
        "event_id": pa.array(list(range(1, 9)), pa.int64()),
        "ts": pa.array(
            [_ts("2024-01-01T00:00:00")] * 5
            + [_ts("2024-01-01T00:00:01"), _ts("2024-01-05T12:00:00"),
               _ts("2024-02-01T00:00:00")], pa.timestamp(_NS)),
        "user_id": pa.array([7] * 8, pa.int64()),
        "event_type": pa.array(
            ["", None, "клик", "purchase", "view", "view", "click", "error"],
            pa.string()),
        # 1e300, ±1e22 (dsum-in), 2e13 (e6-cents-out), 1e12 (e6-cents-in),
        # plain, NULL, negative
        "value": pa.array(
            [1e300, 1e22, -1e22, 2e13, 1e12, 2.5, None, -1.5], pa.float64()),
        "props": pa.array(
            [None, "", "not json", '{"k": 1}', "{}", '{"k": -3}', "[]", "{"],
            pa.string()),
    }))


def _text_edge_overrides(d) -> None:
    """Replace documents/part/customer/events with TEXT-edge variants —
    the eighth fixture class (round-9): Unicode case-mapping traps
    (word-final sigma, Turkish dotted I — Java full mapping vs
    utf8proc simple mapping, pinned by canon_lower), the whitespace
    zoo (tab/CR/VT — Java \\s matches vertical tab, RE2 \\s does not),
    NBSP (whitespace-looking but NOT \\s in either engine), an embedded
    NUL byte, a multi-kilobyte single token, ZWJ emoji and astral-plane
    letters, RTL scripts, NFC-vs-NFD pairs (NOT duplicates — byte
    fingerprints differ identically in both engines), non-ASCII digits
    (outside [0-9] in both regex engines), byte-vs-codepoint
    levenshtein pairs inside one block, and the JSON value zoo
    (duplicate keys, typed k, big integers, leading zeros)."""
    import shutil

    def rewrite(name, table):
        shutil.rmtree(d / f"{name}.parquet")
        (d / f"{name}.parquet").mkdir()
        pq.write_table(table, str(d / f"{name}.parquet" / "part-0.parquet"))

    docs = [
        # 1+2: exact-dup group ACROSS sigma forms — lower('ΗΡΩΣ') is
        # 'ηρως' (final ς) in Java, 'ηρωσ' in DuckDB; canon folds both
        (1, "ΟΔΥΣΣΕΥΣ ΜΕΓΑΣ ΗΡΩΣ", "el", "web"),
        (2, "οδυσσευς μεγας ηρως", "el", "books"),
        # 3+4: dup group across the Turkish dotted-I divergence —
        # lower('İ') is 'i'+U+0307 in Java, bare 'i' in DuckDB
        (3, "İSTANBUL İZMİR IĞDIR", "tr", "web"),
        (4, "istanbul izmir iğdir", "tr", "web"),
        # whitespace zoo: Java \s splits VT (0x0B), RE2 \s does not —
        # oracles pin the portable class [ \t\n\x0b\f\r]
        (5, "tab\there vt\x0bsplit cr\r\nmix", "en", "web"),
        (6, "nbsp joined stays one token", "en", "web"),
        (7, "nul\x00byte embedded doc", "en", "news"),
        (8, "long" + "x" * 2000 + " tail token", "en", "web"),
        (9, "family \U0001f469‍\U0001f469‍\U0001f467‍"
            "\U0001f466 emoji flag \U0001f1fa\U0001f1e6 math \U0001d54f"
            " done", "en", "web"),
        (10, "مرحبا بالعالم שלום עולם rtl mix", "ar", "web"),
        # 11+12: NFC vs NFD 'éclair' — different bytes, NOT duplicates,
        # identically in both engines
        (11, "éclair nfd form here", "fr", "books"),
        (12, "éclair nfc form here", "fr", "books"),
        (13, "the la le der und est que el bait", "zz", "web"),
        (14, "ς", "el", "web"),
        (15, "ﬁnancial ẞ K ligature row", "en", "web"),
        (16, "", "en", "web"),
        (17, "   ", "en", "web"),
        (18, "plain english doc the and of it", "en", "web"),
        # leading tab: space-only trim keeps it, so Java split and
        # string_split_regex both emit a leading EMPTY token — the
        # empty-token shape flows through counts/postings/BPE
        (19, "\tleading tab doc", "en", "news"),
        # whitespace-only but NOT space-only: survives every
        # trim(text) <> '' guard, normalizes to the empty string —
        # normalized tokens pin to [] (raw tokens pin to ['',''])
        (20, "\t\t", "en", "web"),
    ]
    rewrite("documents", pa.table({
        "doc_id": pa.array([r[0] for r in docs], pa.int64()),
        "text": pa.array([r[1] for r in docs], pa.string()),
        "lang": pa.array([r[2] for r in docs], pa.string()),
        "source": pa.array([r[3] for r in docs], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in docs], pa.int64()),
    }))
    # one (brand, size) block with byte-vs-codepoint levenshtein pairs:
    # 'café part' vs 'cafe part' is 1 edit in code points, 2 in UTF-8
    # bytes (the pinned metric); '中文字 widget' vs '中文x widget' is 1 in
    # code points but 3 in bytes (excluded by dist <= 2 on both sides)
    rewrite("part", pa.table({
        "p_partkey": pa.array([1, 2, 3, 4, 5, 6], pa.int64()),
        "p_name": pa.array(
            ["café part", "cafe part", "中文字 widget", "中文x widget",
             "naïve bolt", "naïve bolt"], pa.string()),
        "p_brand": pa.array(["Brand#1"] * 6, pa.string()),
        "p_size": pa.array([1] * 6, pa.int32()),
        "p_type": pa.array(
            ["PROMO", "PROMO", "ECONOMY", None, "STANDARD", "STANDARD"],
            pa.string()),
        "p_retailprice": pa.array(
            [10.0, 20.0, 30.0, 40.0, 50.0, 60.0], pa.float64()),
    }))
    # CSV-hostile nation names: embedded quote/comma/newline/CRLF/tab,
    # empty string, NULL, backslash — the scan_format_twins round-trip
    # must survive all of them under its lossless-CSV config (a literal
    # '\\N' string is the documented out-of-domain exception)
    rewrite("nation", pa.table({
        "n_nationkey": pa.array([0, 1, 2, 3, 4, 5, 6, 7], pa.int32()),
        "n_name": pa.array(
            ['quo"te land', "comma,land", "line\nbreak", "crlf\r\nrow",
             "tab\there", "", None, "back\\slash"], pa.string()),
        # nationkey 2 still points at a missing region (base shape)
        "n_regionkey": pa.array([0, 2, 3, 0, 1, 2, 0, 1], pa.int32()),
    }))
    # non-ASCII digits: Arabic-Indic and fullwidth digits are NOT [0-9]
    # in either Java regex or RE2 — mask/count paths leave them alone
    rewrite("customer", pa.table({
        "c_custkey": pa.array([1, 2], pa.int64()),
        "c_name": pa.array(
            ["عميل ٣٤٥ رقم ١٢٣", "Ｃustomer１２３ ΣΟΦΙΑΣ 42"], pa.string()),
        "c_nationkey": pa.array([0, 1], pa.int32()),
        "c_acctbal": pa.array([100.0, -999.99], pa.float64()),
        "c_mktsegment": pa.array(["BUILDING", None], pa.string()),
    }))
    # the JSON value zoo (props) + hostile event_type strings
    props = [
        '{"k":1,"k":2}',                  # duplicate keys: variant rejects
        '{"k":2.9}',                      # double -> int truncates
        '{"k":-2.9}',
        '{"k":"abc"}',                    # non-numeric string
        '{"k":"7"}',                      # integral string
        '{"k":true}',                     # bool -> 1 / 1.0
        '{"k":99999999999999999999}',     # big int: literal vs double render
        '{"k":{"a":1}}',                  # object k
        '{"k":[1,2]}',                    # array k
        '{"k":null}',                     # json null
        '{"k":"\\u00e9"}',                # unicode escape
        '{"k": 007}',                     # leading zero: malformed in both
    ]
    etypes = ["ΚΛΙΚΣ", "i̇click", "", None, "view", "view",
              "click", "error", "покупка", "view", "click", "error"]
    T = _ts
    rewrite("events", pa.table({
        "event_id": pa.array(list(range(1, 13)), pa.int64()),
        "ts": pa.array(
            [T("2024-01-01T00:00:00")] * 3
            + [T("2024-01-01T00:00:01"), T("2024-01-02T08:00:00"),
               T("2024-01-05T12:00:00"), T("2024-01-05T12:00:00"),
               T("2024-01-10T00:00:00"), T("2024-01-20T06:30:00"),
               T("2024-02-01T00:00:00"), T("2024-02-01T00:00:00"),
               T("2024-02-02T00:00:00")],
            pa.timestamp(_NS)),
        "user_id": pa.array([7, 7, 7, 7, 8, 8, 8, 8, 9, 9, 9, 9], pa.int64()),
        "event_type": pa.array(etypes, pa.string()),
        "value": pa.array(
            [1.0, -2.5, 0.0, None, 3.25, 2.0, 7.5, -1.5, 4.0, 0.5, None, 6.0],
            pa.float64()),
        "props": pa.array(props, pa.string()),
    }))


def _vector_edge_overrides(d) -> None:
    """Replace embeddings with VECTOR-SHAPE variants — the ninth
    fixture class (round-9): rows violating the dim-64 embeddings
    contract (functions/vectors.py::VEC_DIM) in every possible way —
    NULL embedding, empty array, wrong dimensions (3 and 100), NULL
    components at the first and a middle position — alongside enough
    valid vectors to drive the full ANN family. Without the valid_vec
    fence these shapes fail THREE different ways: zip_with/list_zip
    NULL-pad the fold (silent wrong cosines), np.vstack in the Arrow
    kernels raises on ragged input, and posexplode just emits fewer
    rows (silently skewed centroids)."""
    import shutil

    def rewrite(name, table):
        shutil.rmtree(d / f"{name}.parquet")
        (d / f"{name}.parquet").mkdir()
        pq.write_table(table, str(d / f"{name}.parquet" / "part-0.parquet"))

    dim = 64
    basis = [1.0] + [0.0] * (dim - 1)
    same = [0.1] * dim
    small = [float(i % 3) * 0.01 for i in range(dim)]
    neg = [-v for v in same]
    zero = [0.0] * dim
    ramp = [float(i) / dim for i in range(dim)]
    vecs = [
        (0, basis, 0),            # the MMR query id — must stay valid
        (1, None, 0),             # NULL embedding
        (2, [], 0),               # empty array
        (3, [0.1, 0.2, 0.3], 1),  # wrong dim (short)
        (4, [0.5] * 100, 1),      # wrong dim (long)
        (5, [None] + [0.1] * (dim - 1), 0),   # NULL first component
        (6, same[:31] + [None] + same[32:], None),  # NULL mid component
        (7, same, 0),
        (8, same, 0),             # bit-identical duplicate
        (9, small, 1),
        (10, neg, 1),             # anti-parallel to `same`
        (11, zero, 0),            # zero-norm (valid SHAPE; float pin)
        (12, ramp, None),         # NULL label on a valid vector
        (13, [v * 2 for v in small], 1),
        (14, [1.0] * dim, 0),
    ]
    rewrite("embeddings", pa.table({
        "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
        "embedding": pa.array([v[1] for v in vecs], pa.list_(pa.float32())),
        "label": pa.array([v[2] for v in vecs], pa.int32()),
    }))


def _build_tables(d) -> None:
    _write(
        d,
        "region",
        pa.table(
            {
                "r_regionkey": pa.array([0, 1, 2], pa.int32()),
                "r_name": pa.array(["EUROPE", "", "РЕГИОН-Ω"], pa.string()),
            }
        ),
        with_empty_file=True,
    )
    _write(
        d,
        "nation",
        pa.table(
            {
                "n_nationkey": pa.array([0, 1, 2, 3], pa.int32()),
                "n_name": pa.array(["NATION_EDGE", "中文國", "N", None], pa.string()),
                # nationkey 2 points at region 3, which does not exist
                "n_regionkey": pa.array([0, 2, 3, 0], pa.int32()),
            }
        ),
    )
    _write(
        d,
        "customer",
        pa.table(
            {
                "c_custkey": pa.array([1, 2], pa.int64()),
                "c_name": pa.array(["Customer#EDGE", "Z☃"], pa.string()),
                "c_nationkey": pa.array([0, 1], pa.int32()),
                # all-null optional + a negative balance
                "c_acctbal": pa.array([None, -999.99], pa.float64()),
                "c_mktsegment": pa.array([None, ""], pa.string()),
            }
        ),
    )
    _write(
        d,
        "supplier",
        pa.table(
            {
                "s_suppkey": pa.array([1], pa.int64()),
                "s_name": pa.array(["S"], pa.string()),
                "s_nationkey": pa.array([2], pa.int32()),
                "s_acctbal": pa.array([None], pa.float64()),
            }
        ),
    )
    _write(
        d,
        "part",
        pa.table(
            {
                "p_partkey": pa.array([1, 2, 3, 4], pa.int64()),
                "p_name": pa.array(
                    ["ümläut wídget 中文", "emoji \U0001f600 bolt", "", "plain part"],
                    pa.string(),
                ),
                "p_brand": pa.array(["Brand#1", "", "Brand#1", "Brand#2"], pa.string()),
                "p_type": pa.array(["PROMO", None, "ECONOMY", "STANDARD"], pa.string()),
                "p_size": pa.array([0, -5, 50, 1], pa.int32()),
                "p_retailprice": pa.array([0.0, -12.5, 1.0e9, 10.0], pa.float64()),
            }
        ),
    )
    _write(
        d,
        "orders",
        pa.table(
            {
                "o_orderkey": pa.array([100, 101, 102, 103, 104, 105], pa.int64()),
                # single-customer corpus: every present customer is 1;
                # order 104's customer 99 does not exist
                "o_custkey": pa.array([1, 1, 1, 1, 99, 1], pa.int64()),
                "o_orderstatus": pa.array(["F", "O", None, "F", "F", "O"], pa.string()),
                "o_totalprice": pa.array(
                    [0.0, -50.25, 123.45, 1.0e7, 10.0, 10.0], pa.float64()
                ),
                "o_orderdate": pa.array(
                    [
                        _ts("1995-01-01"),
                        _ts("1995-01-01"),
                        None,
                        _ts("2099-12-31"),
                        _ts("1995-06-01"),
                        _ts("1995-06-01"),
                    ],
                    pa.timestamp(_US),
                ),
                "o_orderpriority": pa.array(
                    ["1-URGENT", None, "5-LOW", "2-HIGH", "3-MEDIUM", "3-MEDIUM"],
                    pa.string(),
                ),
            }
        ),
        with_empty_file=True,
    )
    _write(
        d,
        "lineitem",
        pa.table(
            {
                # orderkey 999 has no order; order 105 has no lineitems
                "l_orderkey": pa.array([100, 100, 101, 102, 103, 999, 104], pa.int64()),
                "l_partkey": pa.array([1, 2, 3, 4, 1, 1, 2], pa.int64()),
                "l_suppkey": pa.array([1] * 7, pa.int64()),
                "l_linenumber": pa.array([1, 2, 1, 1, 1, 1, 1], pa.int32()),
                "l_quantity": pa.array(
                    [0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0], pa.float64()
                ),
                "l_extendedprice": pa.array(
                    [0.0, 10.0, -20.0, 30.0, 40.0, 50.0, 60.0], pa.float64()
                ),
                # 1.0 = a 100% discount (revenue terms become exactly 0)
                "l_discount": pa.array(
                    [0.0, 1.0, 0.05, 0.0, 0.02, 0.0, 0.1], pa.float64()
                ),
                "l_tax": pa.array(
                    [0.0, 0.1, 0.0, 0.08, 0.01, 0.0, 0.02], pa.float64()
                ),
                "l_returnflag": pa.array(
                    ["R", "N", "A", None, "R", "N", "N"], pa.string()
                ),
                "l_linestatus": pa.array(
                    ["F", "O", "F", None, "F", "O", "O"], pa.string()
                ),
                "l_shipdate": pa.array(
                    [
                        _ts("1995-01-02"),
                        _ts("1995-01-03"),
                        None,
                        _ts("1995-02-01"),
                        _ts("2099-12-31"),
                        _ts("1995-03-01"),
                        _ts("1995-03-02"),
                    ],
                    pa.timestamp(_US),
                ),
            }
        ),
    )
    _write(
        d,
        "events",
        pa.table(
            {
                "event_id": pa.array(list(range(1, 9)), pa.int64()),
                # TIMESTAMP(NANOS) like the real fixture; five events at
                # the IDENTICAL instant -> zero-duration sessions
                "ts": pa.array(
                    [_ts("2024-01-01T00:00:00")] * 5
                    + [
                        _ts("2024-01-01T00:00:01"),
                        _ts("2024-01-05T12:00:00"),
                        _ts("2024-02-01T00:00:00"),
                    ],
                    pa.timestamp(_NS),
                ),
                "user_id": pa.array([7] * 8, pa.int64()),
                "event_type": pa.array(
                    ["", None, "клик", "purchase", "view", "view", "click", "error"],
                    pa.string(),
                ),
                "value": pa.array([None] * 8, pa.float64()),
                "props": pa.array(
                    [None, "", "not json", '{"k": 1}', "{}", '{"k": -3}', "[]", "{"],
                    pa.string(),
                ),
            }
        ),
        with_empty_file=True,
    )
    # the round-7 edge corpus's 12 shapes (exact dups, ws-inflated and
    # case-only variants, a near-dup pair, empty/whitespace-only/sub-k
    # docs, unicode, digit-less sources) — the dedup/text family runs
    # against the SAME hostile set here as in test_edge_corpus_smoke,
    # now under the full parity bar
    docs = [
        (1, _LONG_A, "en", "web"),
        (2, _LONG_A, "en", "web"),
        (3, "  " + _LONG_A.replace(" ", "  ") + " ", "en", "books"),
        (4, _LONG_A.upper(), "en", "web"),
        (5, _LONG_A.rsplit(" ", 1)[0] + " zulu", "en", "web"),
        (6, "tiny doc", "en", "news"),
        (7, "", "en", "web"),
        (8, "   ", "en", "web"),
        (9, "x", "en", "web"),
        (10, "naive cafe uber resume ümläut 中文 emoji \U0001f600 end", "zz", "web"),
        (11, "the the the the the the the the", "en", "web"),
        (12, "a b", "en", "books"),
    ]
    _write(
        d,
        "documents",
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in docs], pa.int64()),
                "text": pa.array([r[1] for r in docs], pa.string()),
                "lang": pa.array([r[2] for r in docs], pa.string()),
                "source": pa.array([r[3] for r in docs], pa.string()),
                "n_chars": pa.array([len(r[1]) for r in docs], pa.int64()),
            }
        ),
    )
    dim = 64
    zero = [0.0] * dim
    same = [0.1] * dim
    basis = [1.0] + [0.0] * (dim - 1)
    small = [float(i % 3) * 0.01 for i in range(dim)]
    neg = [-v for v in same]  # anti-parallel: cosine exactly -1 vs `same`
    _write(
        d,
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array([1, 2, 3, 4, 5, 6], pa.int64()),
                "embedding": pa.array(
                    [zero, same, same, basis, small, neg], pa.list_(pa.float32())
                ),
                # a NULL label and otherwise a single label
                "label": pa.array([0, 0, 0, None, 0, 0], pa.int32()),
            }
        ),
    )


@pytest.fixture(scope="module")
def edge_rel_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_relational")
    build_edge_rel_fixture(d)
    yield str(d)
    C.release_families(spark)


def test_edge_fixture_readable_by_both_engines(spark, edge_rel_dir):
    """Fast sanity pin: every table loads in Spark AND DuckDB with the
    expected row counts (empty part-files included transparently)."""
    import duckdb

    from kafka_avro_order_processor_eg_4131_spark.sources.tables import (
        TABLE_NAMES,
        load_table,
    )

    want = {
        "region": 3,
        "nation": 4,
        "customer": 2,
        "supplier": 1,
        "part": 4,
        "orders": 6,
        "lineitem": 7,
        "events": 8,
        "documents": 12,
        "embeddings": 6,
    }
    con = duckdb.connect()
    for name in TABLE_NAMES:
        assert load_table(spark, edge_rel_dir, name).count() == want[name], name
        n = con.execute(
            "SELECT count(*) FROM "
            f"read_parquet('{edge_rel_dir}/{name}.parquet/*.parquet')"
        ).fetchone()[0]
        assert n == want[name], f"duckdb {name}"
    con.close()


def test_norm_tokens_and_canon_lower_pins(spark):
    """Fast pins for the round-9 text-edge semantics: canon_lower folds
    both engines' case mappings to one form; norm_tokens emits
    casefolded maximal non-whitespace runs with NO empty tokens — [] for
    whitespace-only text of ANY whitespace kind (the fused
    split+array_remove must equal the two-pass collapse-then-split form
    everywhere EXCEPT the all-non-space-whitespace case, where two-pass
    string_split would emit [''] — the pinned answer is [])."""
    from pyspark.sql import functions as F

    from kafka_avro_order_processor_eg_4131_spark.functions.text import (
        canon_lower,
        norm_tokens,
    )

    cases = {
        "ΟΔΥΣΣΕΥΣ ΜΕΓΑΣ": ["οδυσσευσ", "μεγασ"],     # final ς -> σ
        "İSTANBUL ς": ["istanbul", "σ"],               # İ -> i, lone ς -> σ
        "\tleading tab": ["leading", "tab"],           # no phantom ''
        "trail\t": ["trail"],
        "\t\t": [],                                    # ws-only, not space
        "   ": [],
        "": [],
        "a\x0bb": ["a", "b"],                          # VT splits (Java \s)
        "a b": ["a b"],                      # NBSP is NOT \s
        "x\x00y": ["x\x00y"],                          # NUL survives
    }
    df = spark.createDataFrame([(t,) for t in cases], ["text"])
    got = {
        r["text"]: r["toks"]
        for r in df.select("text", norm_tokens(F.col("text")).alias("toks")).collect()
    }
    for text, want in cases.items():
        assert got[text] == want, (repr(text), got[text], want)
    lo = {
        r["s"]: r["lo"]
        for r in spark.createDataFrame(
            [("İ",), ("ΑΣ",), ("ς",), ("i̇",)], ["s"]
        ).select("s", canon_lower(F.col("s")).alias("lo")).collect()
    }
    assert lo == {"İ": "i", "ΑΣ": "ασ", "ς": "σ", "i̇": "i"}


def _canon(df):
    """Edge-fixture canon: the driver-gate shape (sorted columns, sorted
    rows, bit-exact floats) plus pandas' nullable sentinels (pd.NA/NaT
    from Int64 round-trips) mapped to NULL like None."""
    import math

    import pandas as pd

    cols = sorted(df.columns)

    def c(v):
        if v is None or v is pd.NA or v is pd.NaT:
            return "NULL"
        if isinstance(v, float):
            return "NAN" if math.isnan(v) else v.hex()
        if isinstance(v, (list, tuple)) or "ndarray" in str(type(v)):
            return "[" + ",".join(c(x) for x in v) + "]"
        return repr(v)

    return sorted(
        tuple(c(df[col].iloc[i]) for col in cols) for i in range(len(df))
    )


def _parity_sweep(spark, fixture_dir: str) -> list[str]:
    """Run every catalog entry against ``fixture_dir`` and hash-compare
    with its DuckDB oracle; returns the list of problems (empty =
    223/223 parity)."""
    import duckdb

    from kafka_avro_order_processor_eg_4131_spark.catalog import REGISTRY

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{fixture_dir}/{t}.parquet/*.parquet')"
        )
    problems: list[str] = []
    for name in sorted(REGISTRY):
        q = REGISTRY[name]
        try:
            sdf = q.fn(spark, fixture_dir).toPandas()
        except Exception as e:  # noqa: BLE001 — classify, don't mask
            problems.append(f"CRASH {name}: {type(e).__name__}: {e}"[:300])
            C.release_ephemeral(spark)
            continue
        C.release_ephemeral(spark)
        if q.oracle is None:
            continue
        try:
            odf = con.execute(q.oracle).fetch_df()
        except Exception as e:  # noqa: BLE001
            problems.append(f"ORACLE-CRASH {name}: {e}"[:300])
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"COLUMNS {name}")
        elif _canon(sdf) != _canon(odf):
            problems.append(
                f"MISMATCH {name}: spark={len(sdf)} oracle={len(odf)}"
            )
    con.close()
    C.release_families(spark)
    return problems


@pytest.mark.slow
def test_whole_catalog_oracle_parity_on_edge_relational(spark, edge_rel_dir):
    """FULL-PARITY sweep over the edge relational fixture: every catalog
    entry runs AND hash-matches its DuckDB oracle (rows-only entries
    just run). Round 8 drove this to 223/223 after fixing, among
    others: ANSI negative-amount CAST + zero-variance/zero-norm
    divisions, fmod-vs-% sign semantics, Spark-vs-DuckDB null ordering
    in windows, null-key equi-join group drops, str(None) Avro
    encoding, malformed-JSON parsing, and a Spark 4.1.2 element_at
    codegen bug. Any regression here is a latent production divergence
    the clean fixtures cannot see."""
    assert not _parity_sweep(spark, edge_rel_dir)


@pytest.mark.slow
def test_whole_catalog_oracle_parity_on_time_edges(spark, tmp_path_factory):
    """FULL-PARITY sweep with hostile TIMESTAMPS: pre-epoch (negative
    epoch values), pre-1900, far-future, duplicate-instant ties, NULL
    timestamps, and shipdates before their order dates. Round-8 finds
    fixed here: the NULLS FIRST/LAST divergence in every event-time
    ordering (now explicitly NULLS LAST on both sides), Spark time
    windows dropping null-ts rows (oracles filter), % 2 vs & 1 on
    negative z-order coordinates (now pmod-normalized slots), in-array
    struct sorts putting a null ts first (now a +inf-coalesced sort
    key), null-latency percentile membership, and zero-variance
    anomaly-score divisions."""
    d = tmp_path_factory.mktemp("edge_time")
    build_edge_rel_fixture(d, time_edges=True)
    assert not _parity_sweep(spark, str(d))


@pytest.mark.slow
def test_whole_catalog_oracle_parity_on_float_edges(spark, tmp_path_factory):
    """FULL-PARITY sweep with hostile FLOATS: NaN, +Inf, -Inf, and -0.0
    in o_totalprice, l_extendedprice/l_discount, events.value, and
    embedding components, plus a lone NULL o_totalprice. Round-9 finds
    fixed here (37 -> 0): the dsum family now propagates non-finite
    values with IEEE semantics order-independently on both sides
    (before: Spark silently DROPPED them via decimal-cast-to-NULL,
    DuckDB crashed); the cents domain excludes them like NULLs
    symmetrically; percentiles pin any-NaN-in-group => NaN; min_by/
    max_by ordering keys get fixed non-finite sentinels; printf
    renderings pin to Python str() forms ('nan'/'inf'/'-inf');
    NULL-bearing price orderings pin NULLS LAST; int8 quantization and
    e9 centroid fixed-points emit 'nf' for unrepresentable components;
    try_divide replaces raw division where a 0/-0.0 denominator became
    reachable."""
    d = tmp_path_factory.mktemp("edge_float")
    build_edge_rel_fixture(d, float_edges=True)
    assert not _parity_sweep(spark, str(d))


@pytest.mark.slow
def test_whole_catalog_oracle_parity_on_magnitude_edges(spark, tmp_path_factory):
    """FULL-PARITY sweep with hostile MAGNITUDES (seventh fixture
    class, round-9): finite values straddling every documented numeric
    domain — 1e300 (beyond all exact domains), ±2e23/9e22 around the
    dsum saturation bound (catalog.DSUM_BOUND), 5e17/1e12 around the
    cents-domain BIGINT bound, 2e13/1e12 around the e6 fixed-point
    bound. Round-9 finds fixed here: the dsum family and salted_agg_sum
    SATURATE out-of-domain values to ±Inf/NaN sentinels (before: Spark
    silently dropped them via decimal-cast-NULL, DuckDB crashed); the
    cents/e6 domains exclude magnitudes whose floor image overflows
    BIGINT (was a CAST_OVERFLOW crash in BOTH engines); moment sums
    carry a |x| < 1e14 domain for their DECIMAL(19,4) casts; histogram
    buckets NULL beyond |x| < 4.5e23; %.2f reprs switch to %.6e at
    |x| >= 1e16 (fixed-notation rendering of a huge double is not
    portable: Java prints the shortest repr, C the exact expansion);
    a one-point OLS series divides by zero (try_divide). All in-domain
    fixture values are exact powers/multiples of ten — the
    cast-portable subset (see DSUM_BOUND's docstring)."""
    d = tmp_path_factory.mktemp("edge_magnitude")
    build_edge_rel_fixture(d, magnitude_edges=True)
    assert not _parity_sweep(spark, str(d))


@pytest.mark.slow
def test_whole_catalog_oracle_parity_on_text_edges(spark, tmp_path_factory):
    """FULL-PARITY sweep with hostile TEXT (eighth fixture class,
    round-9): Unicode case-mapping traps (word-final sigma, Turkish
    dotted I), the whitespace zoo (VT splits under Java \\s but not
    RE2 \\s), NBSP, an embedded NUL byte, a multi-kilobyte token, ZWJ
    emoji / astral letters, RTL scripts, NFC-vs-NFD pairs, non-ASCII
    digits, byte-vs-codepoint levenshtein pairs, and the JSON value
    zoo (duplicate keys, typed k values, big integers, leading
    zeros). Round-9 pins fixed here: canon_lower (a portable casefold
    folding Java's full case mapping and utf8proc's simple mapping to
    one form) at every fingerprint/term/shingle site; the oracle
    whitespace class widened to Java's \\s ([ \\t\\n\\x0b\\f\\r]);
    levenshtein pinned to UTF-8 BYTE distance; get_json_object typed
    extraction pinned to integral-string-only try_cast; the variant
    plan's duplicate-key rejection and cast lattice restated per
    json_type in the oracle."""
    d = tmp_path_factory.mktemp("edge_text")
    build_edge_rel_fixture(d, text_edges=True)
    assert not _parity_sweep(spark, str(d))


def build_shuffled_layout_fixture(src_dir: str, dst, n_parts: int = 8,
                                  seed: int = 42) -> None:
    """LAYOUT-invariance fixture (tenth class, round-9): the EXACT rows
    of ``src_dir`` (sf0.001), deterministically permuted and split into
    ``n_parts`` part files per table. Same data, hostile physical
    layout — a cluster writer's reality. Any catalog entry whose result
    depends on input row order or file boundaries (an untiebroken
    first/last, an unsorted collect_list, a LIMIT without total ORDER
    BY) diverges from its oracle here; green pins layout-independent
    determinism, the property a 1000-executor run needs."""
    import random

    from kafka_avro_order_processor_eg_4131_spark.sources.tables import TABLE_NAMES

    for name in TABLE_NAMES:
        t = pq.read_table(f"{src_dir}/{name}.parquet")
        idx = list(range(t.num_rows))
        random.Random(seed + t.num_rows).shuffle(idx)
        t = t.take(idx)
        tdir = dst / f"{name}.parquet"
        tdir.mkdir()
        step = max(1, (t.num_rows + n_parts - 1) // n_parts)
        for p, start in enumerate(range(0, max(t.num_rows, 1), step)):
            pq.write_table(
                t.slice(start, step), str(tdir / f"part-{p:02d}.parquet")
            )


_COMBINED_KEY_COLS = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey", "n_regionkey"),
    "customer": ("c_custkey", "c_nationkey"),
    "supplier": ("s_suppkey", "s_nationkey"),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def build_combined_edge_fixture(dst, n_parts: int = 8) -> None:
    """ELEVENTH fixture class (round-10, verdict item 2): every
    COMPOSABLE hostile class in ONE corpus, so the per-class pins are
    proven to hold under interaction, not just in isolation.

    Composition:
    1. MERGE the six value classes (adversarial base, time, float,
       magnitude, text, vector edges) — each class's full fixture is
       built separately, then every key/FK column is offset by
       class_index * 100000 so primary keys stay unique and each
       class's FK shapes (orphans included) are preserved verbatim.
       The ~6x repetition of non-overridden base tables across classes
       also yields elevated exact-duplicate density (same text, many
       doc_ids) — the pathological-corpus shape — in the same corpus
       as the hostile values.
    2. SKEW the merged corpus with tests/skew_fixture.py — 50% hot
       user, hot part, bounded hot order — which also MIXES rows of
       different classes into one hot order (a NaN price and a 1e300
       price in the same basket).
    3. SHUFFLE + SPLIT the physical layout (permuted rows, ``n_parts``
       part files per table) and append one ZERO-ROW part file per
       table (the empty-partition shape).

    The only class that cannot compose is whole-corpus EMPTY tables
    (zero rows contradicts carrying hostile values); its empty-INPUT
    semantics ride along as the per-table empty part file."""
    import tempfile
    from pathlib import Path

    import pyarrow.compute as pc

    from tests.skew_fixture import build_skew_fixture

    classes: list[dict] = [
        {},
        {"time_edges": True},
        {"float_edges": True},
        {"magnitude_edges": True},
        {"text_edges": True},
        {"vector_edges": True},
    ]
    offset_step = 100_000
    merged: dict[str, list[pa.Table]] = {t: [] for t in _COMBINED_KEY_COLS}
    with tempfile.TemporaryDirectory() as tmp:
        for idx, kw in enumerate(classes):
            cdir = Path(tmp) / f"class{idx}"
            cdir.mkdir()
            build_edge_rel_fixture(cdir, **kw)
            for t, keys in _COMBINED_KEY_COLS.items():
                tbl = pq.read_table(str(cdir / f"{t}.parquet"))
                if idx:
                    for k in keys:
                        if k not in tbl.column_names:
                            continue
                        col = tbl[k]
                        shifted = pc.cast(
                            pc.add(pc.cast(col, pa.int64()), idx * offset_step),
                            col.type,
                        )
                        tbl = tbl.set_column(
                            tbl.column_names.index(k), k, shifted
                        )
                if merged[t]:
                    # class variants may order columns differently
                    # (same names) — normalize to class 0's layout
                    tbl = tbl.select(merged[t][0].column_names)
                merged[t].append(tbl)
        mdir = Path(tmp) / "merged"
        mdir.mkdir()
        for t, parts in merged.items():
            tdir = mdir / f"{t}.parquet"
            tdir.mkdir()
            pq.write_table(
                pa.concat_tables(parts), str(tdir / "part-0.parquet")
            )
        sdir = Path(tmp) / "skewed"
        build_skew_fixture(str(mdir), str(sdir))
        build_shuffled_layout_fixture(str(sdir), dst, n_parts=n_parts)
    for t in _COMBINED_KEY_COLS:
        tdir = dst / f"{t}.parquet"
        sample = pq.read_table(str(tdir))
        pq.write_table(sample.slice(0, 0), str(tdir / "part-zz-empty.parquet"))


@pytest.mark.slow
def test_whole_catalog_oracle_parity_on_combined_edges(
    spark, tmp_path_factory
):
    """FULL-PARITY sweep on the COMBINED corpus (eleventh fixture
    class, round-10): all composable hostile classes interact in the
    same tables — canon_lower text traps x NaN embedding components x
    1e300 prices x malformed vectors x hot keys x shuffled multi-file
    layout x empty part files. Every pin was verified on its own
    fixture in rounds 8-9; green here proves the pins COMPOSE (each is
    a domain guard or symmetric rewrite, so they should — this is the
    empirical check)."""
    d = tmp_path_factory.mktemp("edge_combined")
    build_combined_edge_fixture(d)
    # the hostile ingredients are actually present post-composition
    import math

    import duckdb

    con = duckdb.connect()
    o = con.execute(
        f"SELECT COUNT(*) FILTER (isnan(o_totalprice)),"
        f" COUNT(*) FILTER (o_totalprice = 1e300)"
        f" FROM read_parquet('{d}/orders.parquet/*.parquet')"
    ).fetchone()
    assert o[0] >= 1 and o[1] >= 1, "float/magnitude rows lost in merge"
    hot = con.execute(
        f"SELECT MAX(cnt), SUM(cnt) FROM (SELECT COUNT(*) AS cnt FROM"
        f" read_parquet('{d}/events.parquet/*.parquet') GROUP BY user_id)"
    ).fetchone()
    assert hot[0] / hot[1] >= 0.4, "hot-user share lost in merge"
    n_files = len(list((d / "orders.parquet").glob("*.parquet")))
    assert n_files >= 3, "multi-file layout lost"
    con.close()
    assert math.isfinite(hot[1])
    assert not _parity_sweep(spark, str(d))


# RETIRED round 11 (verdict item 5): the standalone shuffled-layout
# sweep — build_shuffled_layout_fixture stays because the COMBINED
# fixture calls it (permuted rows, 8-way splits, plus an empty part
# file per table), so layout-independent determinism is still swept
# corpus-wide every run, just not twice.


@pytest.mark.slow
def test_whole_catalog_oracle_parity_on_vector_edges(spark, tmp_path_factory):
    """FULL-PARITY sweep with malformed VECTORS (ninth fixture class,
    round-9): NULL embeddings, empty arrays, wrong dimensions, NULL
    components — every violation of the dim-64 embeddings contract —
    plus valid vectors (duplicates, anti-parallel, zero-norm, NULL
    label) driving the full ANN family. Pinned semantics: malformed
    vectors are EXCLUDED from every vector operator like NULL keys —
    the valid_vec fence in plans/similarity.py::_build_emb, mirrored
    by the _vemb oracle CTE — instead of NULL-padding a JVM fold,
    crashing an Arrow kernel, or silently skewing a posexploded
    centroid."""
    d = tmp_path_factory.mktemp("edge_vector")
    build_edge_rel_fixture(d, vector_edges=True)
    assert not _parity_sweep(spark, str(d))


# RETIRED round 11 (verdict item 5): the standalone hot-key-skew sweep
# — build_combined_edge_fixture calls tests/skew_fixture.py's
# build_skew_fixture on the merged corpus (and asserts the >=0.4
# hot-user share survived composition), so the salted/AQE exactness
# class is still swept corpus-wide every run under MORE hostile
# conditions (skew x hostile values x shuffled layout).


@pytest.mark.slow
def test_whole_catalog_oracle_parity_on_empty_tables(spark, tmp_path_factory):
    """FULL-PARITY sweep with every table present but ZERO rows — the
    empty-day-partition shape. Round-8 finds fixed here: Spark grouping
    sets emit no rows on empty input where SQL emits the grand-total
    row (oracles carry HAVING COUNT(*) > 0); Java's Formatter prints
    NULL as 'null' (precision-truncated!) where DuckDB printf
    propagates NULL; SUM(CASE)-style counters are NULL on empty where
    COUNT is 0; and a groupBy finisher emitted zero rows where the
    oracle's scalar subqueries emit one all-NULL row."""
    d = tmp_path_factory.mktemp("edge_empty")
    build_edge_rel_fixture(d, empty=True)
    assert not _parity_sweep(spark, str(d))
