"""Property-based tests (hypothesis) over the driver-side metadata
surfaces — schema mapping, watermark encoding, SQL construction."""

import datetime as dt
import json

from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T

from gobblin_spark import schema as S, state
from gobblin_spark.sources import jdbc

# -- strategies ------------------------------------------------------

scalar_types = st.sampled_from([
    T.BooleanType(), T.IntegerType(), T.LongType(), T.FloatType(),
    T.DoubleType(), T.BinaryType(), T.StringType(), T.DateType(),
    T.TimestampType(), T.TimestampNTZType(),
])

field_names = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)


def struct_types(depth: int = 2):
    base = scalar_types
    if depth > 0:
        inner = st.deferred(lambda: struct_types(depth - 1))
        base = st.one_of(
            scalar_types,
            st.builds(T.ArrayType, inner, st.booleans()),
            st.builds(lambda v, n: T.MapType(T.StringType(), v, n),
                      inner, st.booleans()),
            st.builds(
                lambda fields: T.StructType(
                    [T.StructField(n, t, nl) for (n, t, nl) in fields]
                ),
                st.lists(
                    st.tuples(field_names, inner, st.booleans()),
                    min_size=1, max_size=4,
                    unique_by=lambda f: f[0],
                ),
            ),
        )
    return base


structs = st.builds(
    lambda fields: T.StructType([T.StructField(n, t, nl) for (n, t, nl) in fields]),
    st.lists(st.tuples(field_names, struct_types(), st.booleans()),
             min_size=1, max_size=5, unique_by=lambda f: f[0]),
)


@given(structs)
@settings(max_examples=200, deadline=None)
def test_schema_roundtrip_preserves_shape(struct):
    """StructType → Avro JSON → StructType keeps names, nullability, and
    types (modulo the documented float→float identity promotions)."""
    avro = S.struct_to_avro(struct, "R")
    json.dumps(avro)  # must be valid JSON
    back = S.avro_to_struct(avro)
    assert isinstance(back, T.StructType)
    assert [f.name for f in back.fields] == [f.name for f in struct.fields]
    for orig, rt in zip(struct.fields, back.fields):
        assert rt.nullable == orig.nullable, orig.name
        assert rt.dataType == orig.dataType, orig.name


@given(structs)
@settings(max_examples=100, deadline=None)
def test_roundtrip_schema_self_compatible(struct):
    back = S.avro_to_struct(S.struct_to_avro(struct, "R"))
    assert S.is_compatible(back, back)


@given(st.text(max_size=40))
@settings(max_examples=200, deadline=None)
def test_jdbc_query_escapes_strings(s):
    q = jdbc.build_extract_sql(
        "t", None, [jdbc.watermark_predicate("name", None, s)])
    # the literal must contain the doubled-quote escape of every quote
    assert q.count("'") % 2 == 0  # quotes balanced
    head = 'SELECT * FROM "t" WHERE ("name" <= \''
    assert q.startswith(head) and q.endswith("')")
    assert q[len(head):-2].replace("''", "'") == s


@given(st.one_of(
    st.integers(min_value=-(2**62), max_value=2**62),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(max_size=30),
    st.datetimes(min_value=dt.datetime(1900, 1, 1),
                 max_value=dt.datetime(2200, 1, 1)),
    st.dates(min_value=dt.date(1900, 1, 1), max_value=dt.date(2200, 1, 1)),
))
@settings(max_examples=200, deadline=None)
def test_watermark_encode_decode_roundtrip(v):
    if isinstance(v, dt.datetime):
        v = v.replace(microsecond=(v.microsecond // 1) )  # µs precision kept
    payload = state._encode(v)
    json.dumps(payload)
    assert state._decode(payload) == v


@given(st.lists(st.tuples(field_names, st.booleans()), min_size=1, max_size=6,
                unique_by=lambda f: f[0]))
@settings(max_examples=100, deadline=None)
def test_recursion_elimination_idempotent(fields):
    """eliminate_recursion on a non-recursive schema changes nothing and
    drops nothing; on a self-referential wrap it terminates."""
    sch = {"type": "record", "name": "R", "fields": [
        {"name": n, "type": ["null", "long"] if nullable else "long"}
        for n, nullable in fields
    ]}
    cleaned, dropped = S.eliminate_recursion(sch)
    assert dropped == []
    assert cleaned == sch

    rec = {"type": "record", "name": "W", "fields": [
        {"name": "payload", "type": sch},
        {"name": "next", "type": ["null", "W"]},
    ]}
    cleaned2, dropped2 = S.eliminate_recursion(rec)
    assert dropped2 == ["next"]
    assert S.avro_to_struct(cleaned2)


def test_driver_window_is_exactly_fifty_and_first():
    """The driver evaluates list(queries())[:50]; DRIVER_FIRST must
    stay exactly 50 unique catalog names and actually lead the dict."""
    from gobblin_spark import queries as Q

    assert len(Q.DRIVER_FIRST) == 50
    assert len(set(Q.DRIVER_FIRST)) == 50
    assert list(Q.QUERIES)[:50] == Q.DRIVER_FIRST
    missing = [n for n in Q.DRIVER_FIRST if n not in Q.ORACLES]
    # only rows-only-by-design entries may lack an oracle — and every
    # one of them must have a hash-checked shadow in the catalog (the
    # r8 rule: rows-only-without-shadow count is 0)
    allowed = {"minhash_lsh_docs", "simhash_docs", "embedding_near_dup",
               "semantic_dedup_docs", "text_bpe_tokens",
               "text_compression_ratio", "bloom_fpr_report"}
    # every allowed name is genuinely rows-only-by-design: this set
    # must equal the catalog's actual no-oracle set, so the pin keeps
    # biting if a future entry silently drops its oracle
    assert allowed == {n for n in Q.QUERIES if n not in Q.ORACLES}
    assert set(missing) <= allowed, missing
    shadows = {"minhash_lsh_docs": "minhash_lsh_checked",
               "simhash_docs": "simhash_checked",
               "embedding_near_dup": "fuzzy_match_docs",
               "semantic_dedup_docs": "semantic_dedup_kmeans",
               "text_bpe_tokens": "text_bpe_tokens_checked",
               "text_compression_ratio": "text_compression_ratio_checked",
               "bloom_fpr_report": "bloom_fpr_report_checked"}
    for n in missing:
        assert shadows[n] in Q.ORACLES, f"{n} lacks a hash-green shadow"
    # verdict-r12 #2: a rows-only entry in the window whose
    # hash-checked sibling exists must carry that sibling IN the same
    # window, ahead of it — the canary refresh re-proves values, not
    # just row counts
    from scripts.rotate_window import checked_sibling
    for n in missing:
        sib = checked_sibling(n)
        if sib is not None:
            assert sib in Q.DRIVER_FIRST, (n, sib)
            assert Q.DRIVER_FIRST.index(sib) < Q.DRIVER_FIRST.index(n), \
                (n, sib)


# -- BPE segmentation ------------------------------------------------

words = st.from_regex(r"[a-z]{1,12}", fullmatch=True)


@given(st.lists(words, min_size=1, max_size=30),
       st.lists(st.tuples(st.from_regex(r"[a-z]{1,3}", fullmatch=True),
                          st.from_regex(r"[a-z</w>]{1,5}", fullmatch=True)),
                max_size=20))
@settings(max_examples=60, deadline=None)
def test_bpe_segment_always_reconstructs(ws, merge_pairs):
    """For ANY merge table, concatenating a word's subwords and
    stripping the end marker reproduces the word exactly — merges can
    never lose or invent characters."""
    from gobblin_spark.functions.text import bpe_segment_word

    ranks = {p: i for i, p in enumerate(merge_pairs)}
    for w in ws:
        seg = bpe_segment_word(w, ranks)
        assert "".join(seg).replace("</w>", "") == w
        # the end marker survives in exactly one (final) symbol
        assert "".join(seg).count("</w>") == 1


@given(st.lists(st.tuples(st.integers(1, 10_000), st.integers(1, 50)),
                min_size=1, max_size=12, unique_by=lambda t: t[1]),
       st.integers(1, 20_000))
@settings(max_examples=60, deadline=None)
def test_temperature_thresholds_invariants(src_sizes, target):
    """Threshold math (pure ints): monotone in weight/size ratio, zero
    only when the formula says so, and the expected kept total is at
    most the target plus quantization slack."""
    import math

    ns = {f"s{i}": n for i, (n, i_) in enumerate(src_sizes)}
    weights = {s: int(math.floor(math.sqrt(n) * 1000)) for s, n in ns.items()}
    sum_w = sum(weights.values())
    thr = {s: (target * weights[s] * 65536) // (sum_w * ns[s]) for s in ns}
    # expected kept rows: n * min(thr, 65536)/65536 — never overshoots
    # target by more than the per-source quantization (1/65536 each)
    expected = sum(ns[s] * min(thr[s], 65536) / 65536 for s in ns)
    assert expected <= target + len(ns)
    # rarer sources keep at a rate >= abundant ones (1/sqrt(n) is
    # decreasing), modulo the two integer floors: the weight floor
    # costs <= 1.3e-4 relative, the threshold floor costs 1 unit
    by_n = sorted(ns, key=lambda s: ns[s])
    for a, b in zip(by_n, by_n[1:]):
        slack = 1 + (thr[b] + 999) // 1000  # threshold + weight floors
        assert thr[a] + slack >= thr[b], (ns[a], ns[b], thr[a], thr[b])


def test_every_oracle_describes_in_duckdb():
    """Planning-only validation of all oracle SQL: DESCRIBE each against
    schema-only views of the real tables — catches column typos and
    syntax errors in seconds, without executing anything."""
    import duckdb

    from gobblin_spark.queries import ORACLES

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'/root/testdata/sf0.001/{t}.parquet'")
    bad = []
    for name, sql in ORACLES.items():
        try:
            con.execute(f"DESCRIBE {sql}")
        except Exception as ex:  # noqa: BLE001 - report all failures
            bad.append((name, str(ex)[:120]))
    assert not bad, bad


def test_bench_line_stays_under_driver_capture():
    """The driver tail-captures ~2 KB of stdout; round 3 lost its bench
    to an oversized line. Build the real final line from the current
    HEADLINE with every field at its worst-case width and keep
    comfortable headroom."""
    import bench
    from gobblin_spark.queries import HEADLINE, QUERIES

    assert set(HEADLINE) <= set(QUERIES)
    assert len(HEADLINE) == len(set(HEADLINE))
    # walls under 100 s each, two decimals that never round away
    line = bench.headline_line({n: 99.989 for n in HEADLINE}, 0.001,
                               99999.99, 99.9999, 99.9999)
    doc = json.loads(line)
    assert {"metric", "value", "unit", "queries", "sf", "calib_par_pre",
            "calib_par_post", "drift"} <= set(doc)
    assert len(line) < 1900, f"bench line would be {len(line)} bytes"


def test_bench_line_flags_calibration_drift():
    """A throttle window that opens mid-run shows as pre/post parallel
    calibration samples that disagree; the line says so instead of
    hiding it behind their minimum."""
    import bench

    walls = {"q1_pricing_summary": 0.25}
    drifted = json.loads(bench.headline_line(walls, 0.1, 1.0, 0.46, 0.93))
    assert drifted["drift"] is True
    assert (drifted["calib_par_pre"], drifted["calib_par_post"]) == (0.46,
                                                                     0.93)
    quiet = json.loads(bench.headline_line(walls, 0.1, 1.0, 0.93, 0.88))
    assert quiet["drift"] is False


# -- pure-Python media codecs ---------------------------------------

@given(st.lists(st.integers(min_value=-32768, max_value=32767),
                min_size=1, max_size=500),
       st.sampled_from([8000, 16000, 44100]))
@settings(max_examples=40, deadline=None)
def test_wav_pcm16_roundtrip_any_samples(samples, rate):
    """Arbitrary PCM16 content round-trips sample-exact through the
    stdlib WAV encode/decode pair (not just the deterministic
    synthetic pattern)."""
    from gobblin_spark.functions import multimodal as M

    wav = M.encode_wav_pcm16(samples, sample_rate=rate)
    got_rate, nch, n, s_amp, s_abs = M.decode_wav_pcm16(wav)
    assert (got_rate, nch, n) == (rate, 1, len(samples))
    assert s_amp == sum(samples)
    assert s_abs == sum(abs(v) for v in samples)


@given(st.integers(min_value=0, max_value=10_000_000))
@settings(max_examples=40, deadline=None)
def test_bmp24_roundtrip_any_id(mid):
    """Any media id (hence any width 4..32 incl. every row-padding
    case and any pixel pattern phase) produces a BMP the pure-Python
    decoder inverts exactly."""
    from gobblin_spark.functions import multimodal as M

    w, h = M._bmp_dims(mid)
    got = M.decode_bmp24(M.encode_bmp24(mid))
    assert got[:2] == (w, h)
    assert got[2:] == tuple(
        sum(M._bmp_pixel(mid, x, y)[c] for x in range(w) for y in range(h))
        for c in range(3))


# -- iceberg partition-summary serialization (spec Appendix D) -------

_SUMMARY_CASES = [
    ("int", st.integers(min_value=-(2**31), max_value=2**31 - 1)),
    ("long", st.integers(min_value=-(2**63), max_value=2**63 - 1)),
    ("double", st.floats(allow_nan=False, allow_infinity=False)),
    ("boolean", st.booleans()),
    ("string", st.text(max_size=40)),
    ("date", st.dates(min_value=dt.date(1900, 1, 1),
                      max_value=dt.date(2200, 1, 1))),
]


@given(st.data())
@settings(max_examples=200, deadline=None)
def test_summary_ser_roundtrip(data):
    """field_summary bounds (manifest-list partition summaries) must
    round-trip exactly for every identity-partitionable type — a lossy
    bound could wrongly skip a manifest holding matching files."""
    from gobblin_spark.sinks import iceberg as I

    ice_type, strat = data.draw(st.sampled_from(_SUMMARY_CASES))
    v = data.draw(strat)
    raw = I._summary_ser(v, ice_type)
    assert raw is not None
    assert I._summary_deser(raw, ice_type) == v
    assert I._summary_deser(None, ice_type) is None
    assert I._summary_ser(None, ice_type) is None


@given(st.data())
@settings(max_examples=200, deadline=None)
def test_cron_field_parse_properties(data):
    """Every parsed cron field stays within the field bounds, '*'
    covers the whole range, and 'a-b/n' equals range(a, b+1, n)."""
    from gobblin_spark.plans.dag_engine import _CRON_BOUNDS, _cron_field

    lo, hi = data.draw(st.sampled_from(list(_CRON_BOUNDS)))
    assert _cron_field("*", lo, hi) == frozenset(range(lo, hi + 1))
    a = data.draw(st.integers(min_value=lo, max_value=hi))
    b = data.draw(st.integers(min_value=a, max_value=hi))
    n = data.draw(st.integers(min_value=1, max_value=30))
    assert _cron_field(f"{a}-{b}/{n}", lo, hi) == frozenset(
        range(a, b + 1, n))
    got = _cron_field(f"{a},{b}", lo, hi)
    assert got == {a, b}
    # out-of-bounds and reversed ranges are rejected
    import pytest as _pt

    with _pt.raises(ValueError):
        _cron_field(str(hi + 1), lo, hi)
    if a != b:
        with _pt.raises(ValueError):
            _cron_field(f"{b}-{a}", lo, hi)
