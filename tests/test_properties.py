"""Property-based tests (hypothesis) for the convert pipeline —
the Spark analog of the reference's seeded randomized generation
(SURVEY.md §5.3: GenerateJSONs with schema min/max metadata, seed 0).

Invariants asserted for ARBITRARY inputs, not just the fixture corpus:
- FNC02: one output row per input JSON, across parse → seq → serialize →
  deserialize, both composed by hand and through ``convert()``.
- FNC03: information equality after the full IPC roundtrip, with seq
  in arrival-key order.
- Envelope: every IPC message holds <= max_rows rows; per-message seq
  ranges are contiguous, non-overlapping, and cover exactly [0, n).
"""

from __future__ import annotations

import itertools
import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bolson_spark.operators import (
    add_seq,
    convert,
    deserialize_ipc,
    parse_json,
    serialize_ipc,
)
from bolson_spark.schemas import BATTERY_SPARK

# battery docs per the reference's generator metadata:
# voltage: list<uint64>, 1..16 items, values 0..2047
# (test/bolson/convert/test_opae_battery.cpp:32-41)
battery_doc = st.lists(
    st.integers(min_value=0, max_value=2047), min_size=1, max_size=16
)


def _assert_roundtrip(ser, docs, keys, max_rows):
    """The messages of `ser` tile seqs 0..n-1 in contiguous runs of at
    most max_rows rows, and decode to `docs` in `keys` order (nulls
    first; docs with equal keys may take their seqs in any order)."""
    msgs = ser.collect()
    n = len(docs)
    # envelope invariants
    assert all(m.num_rows <= max_rows for m in msgs)
    assert sum(m.num_rows for m in msgs) == n  # FNC02
    assert all(m.seq_last - m.seq_first + 1 == m.num_rows for m in msgs)
    spans = sorted((m.seq_first, m.seq_last) for m in msgs)
    assert spans[0][0] == 0 and spans[-1][1] == n - 1
    for (_, a1), (b0, _) in zip(spans, spans[1:]):
        assert b0 == a1 + 1
    # FNC03 information equality through the full roundtrip
    back = deserialize_ipc(
        ser, "bolson_seq bigint, voltage array<bigint>"
    ).collect()
    got = {r.bolson_seq: list(r.voltage) for r in back}
    order = sorted(range(n), key=lambda i: (keys[i] is not None, keys[i] or 0))
    for _, tie in itertools.groupby(enumerate(order), key=lambda t: keys[t[1]]):
        tie = list(tie)
        assert sorted(got[s] for s, _ in tie) == sorted(docs[i] for _, i in tie)


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(battery_doc, min_size=1, max_size=200),
    max_rows=st.integers(min_value=1, max_value=64),
    parts=st.integers(min_value=1, max_value=4),
    shape=st.sampled_from(
        ["contiguous", "round_robin", "null_key", "boundary_tie"]
    ),
)
def test_convert_roundtrip_property(spark, docs, max_rows, parts, shape):
    """Docs keyed by arrival id, in `parts` contiguous slices or dealt
    round-robin; "null_key" nulls one key and "boundary_tie" repeats
    the last key of the first slice at the start of the next. The
    hand-composed parse -> add_seq -> serialize path and ``convert()``
    both number the docs in key order."""
    n = len(docs)
    keys = list(range(n))
    if shape == "null_key":
        keys[n // 2] = None
    if shape == "boundary_tie" and n > 1:
        b = max(1, n // parts)  # the first key of parallelize's 2nd slice
        keys[b] = keys[b - 1]
    rows = [(k, json.dumps({"voltage": v})) for k, v in zip(keys, docs)]
    schema = "arrival bigint, value string"
    if shape == "round_robin":
        df = spark.createDataFrame(rows, schema).repartition(parts)
    else:
        df = spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
    parsed = parse_json(df, BATTERY_SPARK, "value", keep=["arrival"])
    seqd = (
        add_seq(parsed, "arrival")
        .drop("arrival")
        .repartitionByRange(2, F.col("bolson_seq"))
        .sortWithinPartitions("bolson_seq")
    )
    for ser in (
        serialize_ipc(seqd, max_rows=max_rows),
        convert(
            df, BATTERY_SPARK, "value", "arrival", max_rows=max_rows, serialize=True
        ),
    ):
        ser = ser.cache()
        try:
            _assert_roundtrip(ser, docs, keys, max_rows)
        finally:
            ser.unpersist()


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)),
        min_size=1, max_size=40,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 999)),
        min_size=0, max_size=40,
    ),
)
def test_asof_join_matches_naive_reference(spark, left, right):
    """Differential property test: the one-shuffle union+window as-of
    join must equal the obvious quadratic definition (max-ts right row
    per left row, largest tiebreak id among ties) on arbitrary data."""
    from bolson_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k int, lts int, lid int"
    )
    rdf = spark.createDataFrame(right, "k int, rts int, rid int")
    got = {
        r.lid: r.rid
        for r in asof_join(
            ldf, rdf, on="k", left_ts="lts", right_ts="rts",
            right_cols=["rid"], tiebreak="rid",
        ).collect()
    }
    expect = {}
    for lid, (k, t) in enumerate(left):
        cands = [(rt, rid) for (rk, rt, rid) in right if rk == k and rt <= t]
        expect[lid] = max(cands)[1] if cands else None
    assert got == expect


@given(
    words=st.lists(
        st.text(alphabet="abcxyz", min_size=1, max_size=4),
        min_size=0,
        max_size=24,
    ),
    n=st.integers(min_value=2, max_value=8),
)
@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
def test_word_ngrams_property(spark, words, n):
    """word_ngrams must yield exactly max(0, len-n+1) grams, each the
    join of n consecutive tokens — including the short-document empty
    guard (Spark's sequence() counts DOWN without it)."""
    from bolson_spark.functions.corpus import word_ngrams

    text = " ".join(words)
    got = (
        spark.createDataFrame([(text,)], ["text"])
        .select(word_ngrams(F.col("text"), n).alias("g"))
        .first()
        .g
    )
    toks = text.split(" ")  # Spark split keeps empties; mirror exactly
    want = [
        " ".join(toks[i : i + n]) for i in range(max(0, len(toks) - n + 1))
    ]
    assert got == want


@given(
    tok_counts=st.lists(
        st.integers(min_value=1, max_value=300), min_size=1, max_size=40
    ),
    budget=st.integers(min_value=16, max_value=512),
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_pack_sequences_invariants(spark, tok_counts, budget):
    """Packing invariants per shard: offsets are the exclusive prefix
    sum (no gaps, no overlaps) and bin_id = floor(start/budget)."""
    from bolson_spark.functions.corpus import pack_sequences

    rows = [
        (i, "s0", " ".join(["w"] * c)) for i, c in enumerate(tok_counts)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = sorted(
        pack_sequences(df, budget=budget).collect(), key=lambda r: r.doc_id
    )
    run = 0
    for r in out:
        assert r.start_offset == run
        assert r.bin_id == run // budget
        run += r.n_tokens


@given(
    xs=st.lists(
        st.integers(min_value=0, max_value=(1 << 16) - 1),
        min_size=1,
        max_size=12,
    ),
    ys=st.lists(
        st.integers(min_value=0, max_value=(1 << 16) - 1),
        min_size=1,
        max_size=12,
    ),
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_zorder_interleave_is_invertible(spark, xs, ys):
    """The Morton key must be a bijection on (x, y): decoding the
    even/odd bits recovers the inputs, and the key stays under 2^32."""
    from bolson_spark.functions.layout import zorder_key_scaled

    n = min(len(xs), len(ys))
    df = spark.createDataFrame(
        list(zip(xs[:n], ys[:n])), ["x", "y"]
    )
    got = df.select(
        "x", "y", zorder_key_scaled(F.col("x"), F.col("y")).alias("z")
    ).collect()
    for r in got:
        assert 0 <= r.z < (1 << 32)
        dx = sum(((r.z >> (2 * i)) & 1) << i for i in range(16))
        dy = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(16))
        assert (dx, dy) == (r.x, r.y)


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.lists(
        st.one_of(
            # ~90% mass on two duplicated values -> quantile boundaries
            # land ON a duplicated key (ties straddle bucket cut points)
            st.sampled_from([5, 5, 5, 5, 17, 17, 17, 17, 17]),
            st.integers(min_value=0, max_value=60),
        ),
        min_size=30,
        max_size=150,
    ),
    n_buckets=st.integers(min_value=2, max_value=6),
)
def test_seq_scalable_skewed_keys_property(spark, keys, n_buckets):
    """Adversarial scale check for add_seq_scalable: with a
    duplicate-heavy key distribution (ties across bucket boundaries)
    and AQE OFF, the frozen-literal bucketing must still produce (a) a
    contiguous 0-based permutation, (b) key-monotone numbering, and
    (c) exactly the per-key seq ranges the exact global-window add_seq
    assigns (seq sets per key are deterministic even though tie order
    within a key is not)."""
    from bolson_spark.operators import add_seq
    from bolson_spark.operators.seq import add_seq_scalable

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = spark.createDataFrame([(k,) for k in keys], ["k"]).repartition(4)
        got = add_seq_scalable(
            df, "k", num_buckets=n_buckets
        ).collect()
        exact = add_seq(df, "k").collect()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)

    n = len(keys)
    assert sorted(r.bolson_seq for r in got) == list(range(n))
    by_seq = sorted(got, key=lambda r: r.bolson_seq)
    assert all(
        a.k <= b.k for a, b in zip(by_seq, by_seq[1:])
    ), "seq order must follow key order"

    def per_key(rows):
        out: dict[int, list[int]] = {}
        for r in rows:
            out.setdefault(r.k, []).append(r.bolson_seq)
        return {k: sorted(v) for k, v in out.items()}

    assert per_key(got) == per_key(exact)


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            # first key: heavy ties (the curriculum_order shape — most
            # docs share a length tier, so buckets are dominated by
            # tie groups straddling boundaries)
            st.sampled_from([3, 3, 3, 7, 7, 7, 7, 12]),
            st.integers(min_value=0, max_value=9),  # tie-break key 2
        ),
        min_size=20,
        max_size=120,
    ),
    n_buckets=st.integers(min_value=2, max_value=6),
)
def test_seq_scalable_multi_key_total_order_property(spark, rows, n_buckets):
    """MULTI-key add_seq_scalable under tie-heavy first keys: with a
    unique final key (row id) the order is TOTAL, so the scalable
    3-pass numbering must equal the exact global window ROW FOR ROW —
    not just per-key seq sets — for any bucket count. This is the
    curriculum_order / training_order composition shape."""
    from bolson_spark.operators import add_seq
    from bolson_spark.operators.seq import add_seq_scalable

    data = [(k1, k2, i) for i, (k1, k2) in enumerate(rows)]
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = spark.createDataFrame(
            data, ["k1", "k2", "rid"]
        ).repartition(4)
        keys = ["k1", "k2", "rid"]
        got = {
            r.rid: r.bolson_seq
            for r in add_seq_scalable(
                df, keys, num_buckets=n_buckets
            ).collect()
        }
        exact = {
            r.rid: r.bolson_seq for r in add_seq(df, keys).collect()
        }
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert got == exact
    assert sorted(got.values()) == list(range(len(data)))


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            # tiny vocab -> chunks repeat within and across docs
            st.sampled_from(["a", "b", "c", "dd"]),
            min_size=1,
            max_size=23,
        ),
        min_size=1,
        max_size=12,
    ),
    w=st.integers(min_value=1, max_value=5),
)
def test_passage_ops_match_python_reference(spark, docs, w):
    """intra_doc_dedup and boilerplate_removal agree with a direct
    Python reference on arbitrary word streams: chunking boundaries,
    first-occurrence order, df counting, and cleaned-text digests."""
    import hashlib

    from bolson_spark.functions.corpus import (
        boilerplate_removal,
        intra_doc_dedup,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731

    def chunks_of(ws):
        return [" ".join(ws[j : j + w]) for j in range(0, len(ws), w)]

    # --- intra-doc reference ---
    got = {r.doc_id: r for r in intra_doc_dedup(df, w=w).collect()}
    for i, ws in enumerate(docs):
        cs = chunks_of(ws)
        firsts = list(dict.fromkeys(cs))
        assert got[i].n_chunks == len(cs)
        assert got[i].n_distinct == len(firsts)
        assert got[i].cleaned_md5 == md5(" ".join(firsts))

    # --- boilerplate reference (max_df=1: any cross-doc repeat) ---
    all_chunks = {i: chunks_of(ws) for i, ws in enumerate(docs)}
    df_count: dict[str, set] = {}
    for i, cs in all_chunks.items():
        for c in set(cs):
            df_count.setdefault(c, set()).add(i)
    frequent = {c for c, d in df_count.items() if len(d) > 1}
    got_b = {
        r.doc_id: r
        for r in boilerplate_removal(df, w=w, max_df=1).collect()
    }
    for i, cs in all_chunks.items():
        kept = [c for c in cs if c not in frequent]
        assert got_b[i].n_chunks == len(cs)
        assert got_b[i].n_boilerplate == len(cs) - len(kept)
        assert got_b[i].cleaned_md5 == md5(" ".join(kept))


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            # tiny vocab -> w-windows collide across docs
            st.sampled_from(["a", "b", "c"]),
            min_size=0,
            max_size=18,
        ),
        min_size=1,
        max_size=10,
    ),
    w=st.integers(min_value=2, max_value=5),
)
def test_strip_repeated_passages_matches_python_reference(spark, docs, w):
    """strip_repeated_passages agrees with a direct Python reference
    on arbitrary word streams: stride-1 window extraction, the
    >=2-distinct-docs rule, min-id keeper, union coverage of
    overlapping removable windows, and the rebuilt text — including
    fully-stripped docs ('') and docs shorter than the window."""
    from bolson_spark.functions.dedup import strip_repeated_passages

    words = {i: ws for i, ws in enumerate(docs)}
    # reference: windows as token tuples (the 60-bit hash is
    # collision-free at this scale by construction)
    owners: dict[tuple, set] = {}
    for i, ws in words.items():
        for s in range(len(ws) - w + 1):
            owners.setdefault(tuple(ws[s : s + w]), set()).add(i)
    keeper = {win: min(ds) for win, ds in owners.items() if len(ds) >= 2}
    want = {}
    for i, ws in words.items():
        drop = set()
        for s in range(len(ws) - w + 1):
            win = tuple(ws[s : s + w])
            if win in keeper and keeper[win] != i:
                drop.update(range(s, s + w))
        kept = [t for p, t in enumerate(ws) if p not in drop]
        want[i] = (" ".join(kept), len(ws) - len(kept))

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    got = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in strip_repeated_passages(
            spark.createDataFrame(rows, ["doc_id", "text"]), w=w
        ).collect()
    }
    # whitespace-split of "" yields [""] on both engines: a 0-word doc
    # is a single empty token to the operator — normalize the
    # reference the same way
    assert set(got) == set(want)
    for i in want:
        assert got[i] == want[i], (i, docs[i], got[i], want[i])


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]),
            min_size=0,
            max_size=14,
        ),
        min_size=2,
        max_size=8,
    ),
    max_df=st.integers(min_value=1, max_value=8),
)
def test_containment_pairs_match_python_reference(spark, docs, max_df):
    """ngram_containment_pairs agrees with a direct Python reference
    on arbitrary word streams: distinct-shingle sets, the df cap
    (frequent shingles excluded from INTERSECTIONS, sizes pre-filter),
    inner/outer assignment with the size-then-id tiebreak, and the
    fixed-point micro-unit ratios — at threshold 0 so EVERY sharing
    pair is checked, not just near-subsets."""
    from bolson_spark.functions.dedup import ngram_containment_pairs

    n = 2
    sets = {
        i: {
            " ".join(ws[j : j + n]) for j in range(len(ws) - n + 1)
        }
        for i, ws in enumerate(docs)
        if len(ws) >= n
    }
    df_count: dict[str, int] = {}
    for s in sets.values():
        for g in s:
            df_count[g] = df_count.get(g, 0) + 1
    frequent = {g for g, d in df_count.items() if d > max_df}
    want = {}
    ids = sorted(sets)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            inter = len((sets[a] & sets[b]) - frequent)
            if not inter:
                continue
            na, nb = len(sets[a]), len(sets[b])
            inner, outer = (
                (a, b) if (na < nb or (na == nb and a < b)) else (b, a)
            )
            want[(inner, outer)] = (
                1_000_000 * inter // min(na, nb),
                1_000_000 * inter // (na + nb - inter),
            )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    got = {
        (r.inner_doc, r.outer_doc): (r.containment_e6, r.jaccard_e6)
        for r in ngram_containment_pairs(
            spark.createDataFrame(rows, ["doc_id", "text"]),
            n=n,
            containment_threshold=0.0,
            max_df=max_df,
        ).collect()
    }
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=24),
            st.integers(min_value=0, max_value=24),
        ),
        min_size=1,
        max_size=40,
    ),
    distributed=st.booleans(),
)
def test_connected_components_matches_union_find(spark, edges, distributed):
    """connected_components on ARBITRARY edge lists (self-loops,
    duplicate edges, chains, stars) matches a direct union-find
    reference — on BOTH physical paths (bounded driver union-find and
    distributed min-label propagation), which must agree with each
    other by construction."""
    from bolson_spark.functions.dedup import connected_components

    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = {n for e in edges for n in e}
    for n in nodes:
        parent[n] = n
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress fully, then representative = min of component
    comp: dict[int, list] = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    want = {
        n: min(members)
        for members in comp.values()
        for n in members
    }

    pairs = spark.createDataFrame(list(edges), ["doc_a", "doc_b"])
    got = {
        r.node: r.representative
        for r in connected_components(
            pairs,
            driver_finish_threshold=0 if distributed else 2_000_000,
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Streaming sessionization merge function vs naive batch reference
# ---------------------------------------------------------------------------


class _FakeGroupState:
    """Minimal stand-in for pyspark's GroupState exposing exactly the
    surface _sessionize_fn touches, so the merge/finalize logic can be
    property-tested as a pure function (no streaming query needed)."""

    def __init__(self, wm_ms: int, stored, timed_out: bool = False):
        self._tuple = stored
        self._wm_ms = wm_ms
        self.hasTimedOut = timed_out
        self.timer_ms = None

    @property
    def exists(self):
        return self._tuple is not None

    @property
    def get(self):
        return self._tuple

    def getCurrentWatermarkMs(self):
        return self._wm_ms

    def update(self, t):
        self._tuple = t

    def remove(self):
        self._tuple = None

    def setTimeoutTimestamp(self, ms):
        self.timer_ms = ms


def _batch_sessionize(events, gap_us):
    """Naive reference: sort by time, split on gaps > gap_us."""
    out = []
    for us, v in sorted(events):
        if out and us - out[-1][1] <= gap_us:
            s = out[-1]
            s[1] = us
            s[2] += 1
            s[3] += v
        else:
            out.append([us, us, 1, float(v)])
    return sorted(tuple(s) for s in out)


# events in a ~5-gap span so merges, bridges, and splits all occur;
# integer-valued doubles keep float sums order-independent (exact)
_GAP_US = 60 * 60 * 1_000_000
_session_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5 * _GAP_US),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=0,
    max_size=40,
)


@settings(
    max_examples=60,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=_session_events,
    cuts=st.lists(st.integers(min_value=0, max_value=40), max_size=4),
    wm_lags_ms=st.lists(
        st.integers(min_value=0, max_value=2 * _GAP_US // 1000),
        min_size=5,
        max_size=5,
    ),
)
def test_sessionize_fn_matches_batch_under_any_schedule(
    events, cuts, wm_lags_ms
):
    """_sessionize_fn (the applyInPandasWithState worker behind
    sessionize_stream) replayed over ARBITRARY micro-batch splits and
    ARBITRARY nondecreasing watermark schedules must (a) emit every
    session exactly once, and (b) converge to the naive batch
    sessionization of exactly the events it accepted (those at or
    ahead of the watermark when their batch arrived) — the r5
    watermark-finalization contract."""
    import pandas as pd

    from bolson_spark.streaming.stateful import _sessionize_fn

    # split the event stream (arrival order = generated order) at the
    # sorted cut points into consecutive micro-batches
    bounds = sorted({min(c, len(events)) for c in cuts})
    batches, prev = [], 0
    for b in bounds + [len(events)]:
        batches.append(events[prev:b])
        prev = b
    # nondecreasing watermark: running max over (max event time seen
    # so far) - lag, floored at 0, in whole ms — Spark's wm shape
    wm_us, seen_max, schedule = 0, 0, []
    for batch, lag_ms in zip(batches, wm_lags_ms):
        schedule.append((batch, wm_us))  # wm from PRIOR batches, as in Spark
        if batch:
            seen_max = max(seen_max, max(us for us, _ in batch))
        wm_us = max(wm_us, (max(seen_max - lag_ms * 1000, 0) // 1000) * 1000)

    stored, emitted, accepted = None, [], []
    for batch, wm in schedule:
        stt = _FakeGroupState(wm // 1000, stored)
        pdf = pd.DataFrame(
            {"us": [e[0] for e in batch], "value": [float(e[1]) for e in batch]}
        )
        for out in _sessionize_fn((7,), [pdf], stt):
            emitted += [tuple(r) for r in out.itertuples(index=False)]
        accepted += [e for e in batch if e[0] >= wm]
        stored = stt._tuple
    # drain: timer fires with the watermark past everything
    stt = _FakeGroupState(10**15, stored, timed_out=True)
    for out in _sessionize_fn((7,), [], stt):
        emitted += [tuple(r) for r in out.itertuples(index=False)]
    assert stt._tuple is None  # state fully cleaned up

    # exact multiset equality with the batch reference: implies every
    # session emitted exactly once, none revised, none lost
    got = sorted((s, e, n, v) for (_k, s, e, n, v) in emitted)
    assert got == _batch_sessionize(accepted, _GAP_US)


# --------------------------------------------------------------------------
# Round-6 sketch suite properties
# --------------------------------------------------------------------------


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(
    keys=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=400),
        ),
        min_size=1,
        max_size=300,
    )
)
def test_hll_union_merge_property_arbitrary_groups(spark, keys):
    """For ANY multiset of (group, key) rows: merging the per-group
    registers must give the bit-identical estimate to sketching the
    whole multiset as one group — the algebraic property every
    incremental/cross-source use depends on. Also: occupied registers
    never exceed min(m, distinct keys)."""
    from bolson_spark.functions.sketch import hll_distinct, hll_union

    df = spark.createDataFrame(
        [(g, f"k{v}") for g, v in keys], ["grp", "key"]
    )
    merged = {r.scope: r for r in hll_union(df, "key", "grp", p=4).collect()}
    (single,) = hll_distinct(
        df.select(F.lit("one").alias("g"), "key"), "key", "g", p=4
    ).collect()
    assert merged["ALL"].occupied == single.occupied
    assert merged["ALL"].hll_estimate == single.hll_estimate
    n_distinct = len({v for _, v in keys})
    assert merged["ALL"].occupied <= min(16, n_distinct)


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(
    vals=st.lists(
        st.integers(min_value=-50, max_value=10_000), min_size=1, max_size=250
    ),
    n_bins=st.sampled_from([1, 7, 64, 256]),
)
def test_hist_quantiles_matches_python_reference(spark, vals, n_bins):
    """hist_quantiles vs a naive Python reference on arbitrary integer
    multisets and bin counts: the exact column must equal the sorted
    rank element, and the estimate must be the true upper edge of the
    rank element's bin — i.e. within one bin width above the exact
    value, never below."""
    from bolson_spark.functions.sketch import hist_quantiles

    df = spark.createDataFrame([("g", v) for v in vals], ["grp", "v"])
    rows = hist_quantiles(
        df, "v", "grp", percents=(50, 95, 99), n_bins=n_bins
    ).collect()
    svals = sorted(vals)
    n = len(svals)
    vmin, vmax = svals[0], svals[-1]
    span = vmax - vmin + 1
    width = -(-span // n_bins)  # ceil
    assert len(rows) == 3
    for r in rows:
        rank = (r.pct * n + 99) // 100
        exact = svals[rank - 1]
        assert r.exact == exact, (r, exact)
        b = ((exact - vmin) * n_bins) // span
        edge = vmin + -(-((b + 1) * span) // n_bins) - 1
        assert r.est == edge, (r, edge)
        assert exact <= r.est <= exact + width


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(
    stream=st.lists(
        st.integers(min_value=0, max_value=30), min_size=1, max_size=300
    ),
    w_cells=st.sampled_from([2, 16, 256]),
)
def test_cm_sketch_one_sided_property(spark, stream, w_cells):
    """Count-min on arbitrary multisets and grid widths: every probe
    estimate >= its true count (one-sided, even at w_cells=2 where
    collisions are guaranteed), and the total overestimate mass per
    hash row is bounded by the stream size."""
    from collections import Counter

    from bolson_spark.functions.sketch import cm_sketch_freq

    truth = Counter(stream)
    df = spark.createDataFrame([(f"k{v}",) for v in stream], ["k"])
    probe = df.select("k").distinct()
    rows = cm_sketch_freq(df, probe, "k", d=3, w_cells=w_cells).collect()
    assert len(rows) == len(truth)
    for r in rows:
        t = truth[int(r.k[1:])]
        assert r.exact_count == t
        assert r.cm_estimate >= t
        assert r.cm_estimate <= len(stream)  # a cell can't exceed N


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e"]),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=40,
    ),
    min_pair=st.integers(min_value=1, max_value=3),
)
def test_pmi_collocations_matches_python_reference(spark, docs, min_pair):
    """pmi_collocations vs a from-first-principles Python reference on
    ARBITRARY small corpora over a 5-token alphabet (dense enough to
    exercise pair collisions, min_pair cuts, and rank ties): same
    surviving pairs, same counts, same scores (identical pinned float
    op order), and the (ratio DESC, w1, w2) ordering."""
    from collections import Counter

    from bolson_spark.functions.text import pmi_collocations

    df = spark.createDataFrame([(" ".join(d),) for d in docs], ["text"])
    got = [
        (r.w1, r.w2, r.n_pair, r.pmi_ratio)
        for r in pmi_collocations(df, min_pair=min_pair, k=1000).collect()
    ]

    uni = Counter(w for d in docs for w in d)
    pairs = Counter(
        (d[i], d[i + 1]) for d in docs for i in range(len(d) - 1)
    )
    n = sum(uni.values())
    m = sum(pairs.values())
    expected = sorted(
        (
            (w1, w2, c, round(c * n / m / uni[w1] * n / uni[w2], 6))
            for (w1, w2), c in pairs.items()
            if c >= min_pair
        ),
        key=lambda t: (-t[3], t[0], t[1]),
    )
    assert got == expected


# ---------------------------------------------------------------------------
# Substring-level dedup: the keep-one guarantee on ARBITRARY corpora.
#
# Lee et al.'s exact-substring dedup must never delete EVERY copy of a
# repeated substring. strip_dup_spans' canonical rule (each duplicated
# window hash's lexicographically-first (doc_id, start) occurrence
# lives inside exactly one island span, and a span containing a
# canonical window is kept) guarantees: every corpus-repeated L-gram
# still occurs in the CLEANED corpus. Islands within a doc are
# token-disjoint (break condition start > prev + L-1), so a kept
# span's tokens survive contiguously. Assert it on random corpora
# from a tiny vocabulary (dense with repeated windows).
# ---------------------------------------------------------------------------

_span_doc = st.lists(
    st.sampled_from(["aa", "bb", "cc"]), min_size=1, max_size=40
)


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=st.lists(_span_doc, min_size=1, max_size=5))
def test_strip_dup_spans_keep_one_property(spark, docs):
    from bolson_spark.functions.corpus import strip_dup_spans

    L = 5
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r.doc_id: r
        for r in strip_dup_spans(df, length=L, return_text=True).collect()
    }

    def grams(toks):
        return [
            tuple(toks[i:i + L]) for i in range(max(len(toks) - L + 1, 0))
        ]

    from collections import Counter

    corpus_counts = Counter(g for _, t in rows for g in grams(t.split(" ")))
    repeated = {g for g, c in corpus_counts.items() if c >= 2}
    cleaned_grams = set()
    for i, _ in rows:
        cleaned_grams.update(grams(out[i].cleaned_text.split(" ")))
    missing = repeated - cleaned_grams
    assert not missing, f"repeated grams deleted everywhere: {missing}"
    # and the removal is real: token accounting matches the output
    for i, t in rows:
        toks = t.split(" ")
        assert out[i].n_tokens == len(toks)
        assert (
            len(out[i].cleaned_text.split(" ")) if out[i].cleaned_text else 0
        ) == len(toks) - out[i].n_removed
