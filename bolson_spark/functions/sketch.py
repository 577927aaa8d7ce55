"""Deterministic sketching & sampling — cardinality estimation and
weighted selection built on md5-derived uniforms instead of engine RNG,
so every result is bit-reproducible across engines, runs, and cluster
sizes (the same property `hash_sample` / `stratified_sample` rely on).

On HLL determinism: Spark's `approx_count_distinct` (HLL++) and
DuckDB's `approx_count_distinct` are different sketch implementations —
their estimates can never hash-match, so the BUILT-IN HLLs are out.
KMV (k-minimum-values, Bar-Yossef et al. 2002) over a fixed md5 hash
was round 5's answer; round 6 adds a HAND-ROLLED register HLL over the
same draw (`hll_distinct` / `hll_union`), which is just as
deterministic (integer-exact bucket/rho, exact-integer harmonic sum)
and strictly cheaper to build: MAX over registers is idempotent, so no
distinct() and no top-k window — one partial-aggregating groupBy.
KMV stays for set-overlap merging (`kmv_set_overlap`), where the
sketch VALUES (not just register maxima) are what merges.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

# 60-bit hash space: 15 lowercase-hex digits fit a signed 64-bit int in
# both engines (Spark `conv(..., 16, 10)`, DuckDB `('0x'||h)::BIGINT`),
# and collisions among even billions of keys are ~1e-10.
HASH_BITS = 60
HASH_SPACE = float(1 << HASH_BITS)


def md5_draw(col: Column, seed: str) -> Column:
    """Deterministic 60-bit integer draw for a key: the first 15 hex
    digits of md5(seed|key) as a bigint. Uniform on [0, 2^60)."""
    h = F.md5(F.concat_ws("|", F.lit(seed), col.cast("string")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint")


def kmv_distinct(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int = 64,
    salt_parts: int = 16,
) -> DataFrame:
    """Per-group distinct-count estimate via the KMV sketch: hash every
    distinct key to a uniform draw, find the k-th smallest draw u_(k)
    per group, estimate (k-1) / u_(k). Groups with fewer than k
    distinct keys are EXACT (the sketch saw everything).

    Scale shape: the k-th minimum is found with a two-stage top-k — a
    per-(group, salt) partial window keeps at most k rows per salt
    shard, then the final window ranks only group × salt_parts × k
    survivors. No group ever funnels its full key set through one
    reducer; the salt is Spark-internal (any hash works — it never
    affects the result, only the partial-stage fan-out). The exact
    count is computed alongside for the accuracy report; a production
    caller at 100 TB would drop it and keep only the sketch.

    Output: (group_col, n_exact, kmv_estimate).

    NULL keys are excluded: a NULL is not a set element, and
    md5_draw(NULL) is a CONSTANT (concat_ws skips nulls), so letting
    nulls in would plant the identical draw in every group's sketch —
    fabricating overlap between disjoint groups — while the DuckDB
    twin's ``md5('kmv|' || CAST(k AS VARCHAR))`` is NULL there, a
    latent cross-engine divergence.
    """
    keys = (
        df.select(group_col, key_col)
        .where(F.col(key_col).isNotNull())
        .distinct()
    )
    kth = (
        _bottom_k_rows(keys, key_col, group_col, k, salt_parts)
        .where(F.col("_rnk") == k)
        .select(group_col, F.col("v").alias("v_k"))
    )
    exact = keys.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    # estimate left UNROUNDED: cast + two divisions are exactly
    # specified IEEE ops, bit-identical on any engine; a ROUND(x, 6)
    # would be the one step whose half-up tie handling can differ
    return exact.join(kth, group_col, "left").select(
        group_col,
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.coalesce(
            F.lit(float(k - 1))
            / (F.col("v_k").cast("double") / F.lit(HASH_SPACE)),
            F.col("n_exact").cast("double"),
        ).alias("kmv_estimate"),
    )


def _bottom_k_rows(
    keys: DataFrame,
    key_col: str,
    group_col: str,
    k: int,
    salt_parts: int,
    seed: str = "kmv",
) -> DataFrame:
    """The one definition of the KMV sketch construction — the k
    smallest md5 draws per group over a distinct (group, key) frame —
    shared by `kmv_distinct` and `kmv_set_overlap` so the draw seed,
    salt scheme, and tie-break can never desynchronize between the two
    engine-parity oracles. Two-stage salted bottom-k: a per-(group,
    salt) partial window keeps at most k rows per shard, the final
    window ranks only group × salt_parts × k survivors — no group
    funnels its full key set through one reducer. Returns (group_col,
    key_col, v, _rnk) rows with _rnk <= k, ordered draws."""
    drawn = keys.select(
        group_col,
        F.col(key_col),
        md5_draw(F.col(key_col), seed).alias("v"),
    )
    salt = F.pmod(F.hash(key_col), F.lit(salt_parts))
    w1 = Window.partitionBy(group_col, salt).orderBy("v", key_col)
    w2 = Window.partitionBy(group_col).orderBy("v", key_col)
    return (
        drawn.withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") <= k)
        .withColumn("_rnk", F.row_number().over(w2))
        .where(F.col("_rnk") <= k)
        .drop("_rn")
    )


def kmv_set_overlap(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int = 64,
    salt_parts: int = 16,
) -> DataFrame:
    """Pairwise set-similarity ESTIMATION between groups from merged
    KMV sketches (Beyer et al., SIGMOD 2007): per group, the k
    smallest md5 draws over its distinct keys form the sketch; for a
    pair (A, B), the k smallest values of the sketch UNION estimate
    |A∪B| by (k-1)/u_(k), and the fraction of those union-sketch
    values present in BOTH input sketches estimates Jaccard. Sketches
    of the same draw function are mergeable, which is exactly why this
    works pairwise without re-scanning anything.

    Scale shape: the corpus is scanned ONCE (distinct keys, then the
    same two-stage salted bottom-k as `kmv_distinct` — no group ever
    funnels its full key set through one reducer); the pair stage
    touches G sketches of k bigints each (a broadcast nested-loop over
    G rows), never the corpus — the entire point of sketch-based
    overlap auditing at 100 TB. The EXACT pair overlap rides along for
    the accuracy report via an inverted-index equi-join on the key; a
    production caller at scale drops those columns and with them that
    join (its per-key fanout is (groups containing the key)^2 — at
    large G, hot keys need the same df-cap treatment as
    ngram_containment_pairs; the SKETCH estimates have no such term).
    Pairwise output is Θ(G²) by definition: intended for group counts
    in the dozens-to-thousands (sources, crawls, shards), not for
    millions of groups.

    Determinism: draws are md5-derived (not engine RNG) and ties are
    broken by the key itself, so the sketch SET — hence every estimate
    — is bit-identical across engines, runs, and cluster sizes.
    Pairs where the union sketch holds fewer than k values degrade to
    EXACT set arithmetic (the sketches saw everything).

    Output: (group_a, group_b, n_a, n_b, kmv_union_est,
    kmv_jaccard_e6, exact_jaccard_e6) with group_a < group_b; Jaccard
    ratios are fixed-point micro-units (bigint div — rational ratios
    rounded as doubles can tie at the 6th decimal and diverge 1 ulp
    between engines), and the union estimate is an UNROUNDED double
    (cast + divide are exactly specified IEEE ops — bit-identical on
    any engine; rounding would be the one divergence-capable step).
    """
    # consumed 4x (draws, sizes, both sides of the exact join) — left
    # uncached deliberately: the distinct's shuffle is exchange-reused
    # across consumers, and an A/B at sf0.1 showed caching the
    # million-row string table costs more than the reuse saves.
    # NULL keys excluded (kmv_distinct's rule): a NULL's constant
    # md5_draw would sit in EVERY group's sketch, making disjoint
    # groups share a sketch value (kmv_jaccard > 0) that the exact
    # equi-join — where NULL never matches NULL — can never confirm.
    keys = (
        df.select(group_col, key_col)
        .where(F.col(key_col).isNotNull())
        .distinct()
    )
    sk_rows = _bottom_k_rows(keys, key_col, group_col, k, salt_parts)
    # collect_list is bounded at k rows per group by construction
    sketches = sk_rows.groupBy(group_col).agg(
        F.sort_array(F.collect_list("v")).alias("sk")
    )
    sizes = keys.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_keys"))
    sk = sketches.join(sizes, group_col)
    a = sk.select(
        F.col(group_col).alias("group_a"),
        F.col("sk").alias("sk_a"),
        F.col("n_keys").alias("n_a"),
    )
    b = sk.select(
        F.col(group_col).alias("group_b"),
        F.col("sk").alias("sk_b"),
        F.col("n_keys").alias("n_b"),
    )
    # G^2/2 pairs over G sketch rows: broadcast nested-loop by design
    pairs = a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
    u = F.array_sort(F.array_distinct(F.concat(F.col("sk_a"), F.col("sk_b"))))
    merged_k = F.slice(u, 1, k)
    prepared = pairs.select(
        "group_a",
        "group_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.size(u).alias("_ulen"),
        # try_: when the union holds < k values the exact path is taken
        # and u_(k) does not exist (strict element_at would raise)
        F.try_element_at(u, F.lit(k)).alias("_u_k"),
        F.size(
            F.array_intersect(
                F.array_intersect(merged_k, F.col("sk_a")), F.col("sk_b")
            )
        ).alias("_shared"),
    )
    # exact pair overlap (accuracy report): inverted-index equi-join
    x = keys.select(
        F.col(group_col).alias("group_a"), F.col(key_col).alias("_kx")
    )
    y = keys.select(
        F.col(group_col).alias("group_b"), F.col(key_col).alias("_kx")
    )
    inter = (
        x.join(y, "_kx")
        .where(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    union_est = F.when(
        F.col("_ulen") < k, F.col("_ulen").cast("double")
    ).otherwise(
        F.lit(float(k - 1))
        / (F.col("_u_k").cast("double") / F.lit(HASH_SPACE))
    )
    return (
        prepared.join(inter, ["group_a", "group_b"], "left")
        .withColumn("_i", F.coalesce(F.col("_i"), F.lit(0)))
        .select(
            "group_a",
            "group_b",
            "n_a",
            "n_b",
            # unrounded: pure IEEE cast/divide is bit-identical across
            # engines; ROUND's half-up tie handling is what can differ
            union_est.alias("kmv_union_est"),
            F.expr(
                # bigint cast BEFORE the multiply: int32 * 1000000
                # overflows at _shared >= 2148 (reachable at k >= 2148)
                f"CAST((1000000 * CAST(_shared AS BIGINT))"
                f" div least({k}, _ulen) AS BIGINT)"
            ).alias("kmv_jaccard_e6"),
            F.expr(
                "CAST((1000000 * _i) div (n_a + n_b - _i) AS BIGINT)"
            ).alias("exact_jaccard_e6"),
        )
    )


def temperature_mix(
    df: DataFrame,
    stratum_col: str,
    alpha: float = 0.5,
    target_frac: float = 0.3,
    id_col: str = "doc_id",
    seed: str = "tmix",
) -> DataFrame:
    """Temperature-based mixture sampling: resample so each stratum's
    share of the output is proportional to n_s^alpha instead of n_s —
    the standard up-weighting of small sources (languages, domains) in
    multilingual/multi-source training mixes (alpha in [0,1]; alpha=1
    is proportional, alpha=0 uniform-over-strata).

    Per-stratum keep fraction: f_s = target_frac * N * n_s^(alpha-1)
    / sum_t n_t^alpha — expected output = target_frac * N with output
    shares proportional to n_s^alpha. Selection is the deterministic
    md5-threshold rule (engine/run/cluster-size reproducible). The
    stratum stats are ONE aggregate (strata are few — broadcast back);
    the filter is a narrow map.

    f_s is clamped at 1 (a stratum can at most be kept whole —
    with-replacement upsampling is a different operator); a clamped
    stratum's output share falls below its n_s^alpha target, the
    standard behavior of capped temperature sampling.

    Output: the kept rows' (id_col, stratum_col).
    """
    counts = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).cast("double").alias("n_s")
    )
    # corpus-wide denominators via a broadcast 1-row aggregate (the
    # stratum table is tiny, but an unpartitioned window is the wrong
    # idiom to normalize with — this composes at any stratum count)
    totals = counts.agg(
        F.sum(F.pow(F.col("n_s"), alpha)).alias("n_alpha"),
        F.sum("n_s").alias("n_total"),
    )
    fracs = counts.crossJoin(F.broadcast(totals)).select(
        stratum_col,
        F.least(
            F.lit(1.0),
            F.lit(target_frac)
            * F.col("n_total")
            * F.pow(F.col("n_s"), alpha - 1.0)
            / F.col("n_alpha"),
        ).alias("keep_frac"),
    )
    # deterministic threshold compare in hex-string space (the
    # stratified_sample rule): md5(seed|id)[:8] < 08x(f * 2^32)
    bucket = F.substring(
        F.md5(F.concat_ws("|", F.lit(seed), F.col(id_col).cast("string"))),
        1,
        8,
    )
    # cap the integer threshold at 2^32-1: keep_frac = 1.0 would
    # otherwise format as NINE hex chars ("100000000") and the 8-char
    # lexicographic compare would wrongly reject buckets >= "1..."
    thresh = F.format_string(
        "%08x",
        F.least(
            F.floor(F.col("keep_frac") * F.lit(float(1 << 32))),
            F.lit((1 << 32) - 1),
        ).cast("bigint"),
    )
    # Determinism caveat (shared with weighted_sample): keep_frac
    # passes through pow(), whose last ulp is not IEEE-pinned across
    # libm implementations — a stratum whose keep_frac*2^32 lands
    # within 1 ulp of an integer could in principle floor() to
    # adjacent thresholds on different engines, flipping the single
    # boundary-bucket document. Never observed in the differential
    # gate; the alternative (rational n_s^alpha) has no closed integer
    # form for non-integer alpha.
    # keep_frac == 1.0 bypasses the hash compare entirely: the capped
    # threshold is 2^32-1 and a strict '<' would still drop a document
    # whose md5 prefix is exactly "ffffffff" (p=2^-32) — violating the
    # "clamped stratum is kept whole" invariant. Mirrored in the SQL
    # oracle.
    out = (
        df.select(id_col, stratum_col)
        .join(F.broadcast(fracs), stratum_col)
        .where((F.col("keep_frac") >= 1.0) | (bucket < thresh))
        .select(id_col, stratum_col)
    )
    return out


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    id_col: str = "doc_id",
    seed: str = "ws",
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis & Spirakis
    2006): each row draws u uniform and competes with key u^(1/weight);
    the top-n keys are a weighted sample. Deterministic: u comes from
    md5, so the selected set is identical on any engine or cluster
    size — the property that makes corpus subsampling reproducible
    across pipeline re-runs.

    Scale shape: one narrow map to compute the key, then a top-n that
    compiles to TakeOrderedAndProject (per-partition heaps + driver
    merge of n rows) — no global sort, no shuffle of the corpus.

    Output: (id_col, weight_col, draw) where draw is the exact 60-bit
    integer (floats stay internal to the ordering so cross-engine
    comparison is integer-exact).

    Weights must be strictly positive (Efraimidis-Spirakis requires
    it) — enforced per row: a negative weight's u^(1/w) exceeds 1 and
    would deterministically crowd out the entire intended sample with
    no error. Determinism caveat: the selection key uses pow(), a
    transcendental whose last ulp is not IEEE-pinned across libm
    implementations — two keys straddling the top-n cutoff by < 1 ulp
    could in principle order differently across engines. The draw
    itself stays integer-exact; the boundary event has never been
    observed in the differential gate, and removing pow() would mean
    abandoning the E-S construction.
    """
    wcol = F.col(weight_col).cast("double")
    w_checked = F.when(
        wcol.isNull() | (wcol <= 0.0),
        F.raise_error(
            F.concat(
                F.lit(
                    "bolson_spark: weighted_sample requires strictly "
                    "positive weights, got "
                ),
                F.col(weight_col).cast("string"),
            )
        ),
    ).otherwise(wcol)
    u = md5_draw(F.col(id_col), seed).alias("draw")
    keyed = df.select(F.col(id_col), F.col(weight_col), u).withColumn(
        "es_key",
        F.pow(
            F.col("draw").cast("double") / F.lit(HASH_SPACE),
            F.lit(1.0) / w_checked,
        ),
    )
    return (
        keyed.orderBy(F.col("es_key").desc(), F.col(id_col))
        .limit(n)
        .select(id_col, weight_col, "draw")
    )


def _hll_alpha(p: int) -> float:
    """Standard HyperLogLog bias constant alpha_m (Flajolet et al.
    2007, Fig. 3) for m = 2^p registers."""
    m = 1 << p
    if p == 4:
        return 0.673
    if p == 5:
        return 0.697
    if p == 6:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame, key_col: str, group_col: str, p: int = 6
) -> DataFrame:
    """Per-group HyperLogLog registers over a DETERMINISTIC md5 draw —
    the sketch construction shared by `hll_distinct` and `hll_union`.

    The module docstring's "why not HLL" applies to the ENGINES'
    built-in approx_count_distinct sketches (incomparable
    implementations); a hand-rolled register HLL over `md5_draw` is as
    deterministic as KMV: bucket = top p bits of the draw, rho =
    1 + leading-zero count of the remaining (60-p)-bit word, register
    = MAX(rho) per bucket. Both halves are integer-exact in Spark and
    DuckDB (bucket via shift, rho via the length of the bin() string,
    engines agree bin(w) has no leading zeros).

    Scale shape vs KMV: NO distinct() and NO top-k window — MAX is
    idempotent over duplicate keys, so the whole sketch is ONE
    partially-aggregating groupBy with at most m=2^p groups per
    group-value (map-side combine collapses each task's stream to
    <= m rows before the exchange). This is the cheaper construction
    at 100 TB; KMV stays for when the sketch VALUES must support
    set-overlap merging (`kmv_set_overlap`).

    Output: (group_col, bucket, rho) — occupied registers only; absent
    buckets mean rho=0 and are reconstructed arithmetically by the
    estimators.
    """
    w_bits = HASH_BITS - p
    v = md5_draw(F.col(key_col), "hll")
    bucket = F.shiftright(v, w_bits).alias("bucket")
    w = (v % F.lit(1 << w_bits)).alias("w")
    drawn = df.select(F.col(group_col), bucket, w)
    # rho = (w_bits+1) - bit_length(w); bin(w) has no leading zeros in
    # either engine, and the w=0 case (bit_length 0, rho = w_bits+1)
    # needs the CASE because bin(0) is the 1-char string "0"
    rho = F.when(F.col("w") == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits + 1) - F.length(F.bin(F.col("w")))
    )
    return drawn.select(group_col, "bucket", rho.alias("rho")).groupBy(
        group_col, "bucket"
    ).agg(F.max("rho").alias("rho"))


def _hll_estimate(regs_agg: DataFrame, p: int) -> DataFrame:
    """Turn (group, occupied, s_int) register aggregates into the raw
    HLL estimate alpha_m * m^2 / S. The harmonic sum S is carried as
    the EXACT integer s_int = sum(2^(K - rho)) scaled by K = 61-p
    (max rho), with the (m - occupied) zero registers contributing
    2^K each — bigint addition is order-independent, so S is
    bit-identical across engines/partitionings; the only float ops
    are one deterministic bigint->double cast and two exact IEEE
    divisions/multiplies. The small-range linear-counting correction
    is deliberately NOT applied: ln() is a transcendental whose last
    ulp is not pinned by IEEE 754 across libm implementations — the
    raw estimate plus the occupied-register count lets callers apply
    any correction they trust."""
    m = 1 << p
    k = HASH_BITS - p + 1
    alpha_m2 = _hll_alpha(p) * m * m
    s_int = F.col("s_int") + (F.lit(m) - F.col("occupied")) * F.lit(1 << k)
    s = s_int.cast("double") / F.lit(float(1 << k))
    return regs_agg.withColumn(
        "hll_estimate", F.lit(alpha_m2) / s
    ).drop("s_int")


def hll_distinct(
    df: DataFrame, key_col: str, group_col: str, p: int = 6
) -> DataFrame:
    """Per-group distinct-count estimate via a deterministic-hash
    HyperLogLog (Flajolet et al. 2007): constant 2^p-register memory
    per group, one partial-aggregating pass, no distinct(), no
    window — see `hll_registers` for why this is the cheapest
    cardinality sketch at 100 TB. The exact count rides along for the
    accuracy report (it is the one corpus-scale term; production
    drops it).

    Output: (group_col, n_exact, occupied, hll_estimate)."""
    k = HASH_BITS - p + 1
    regs = hll_registers(df, key_col, group_col, p)
    agg = regs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("occupied"),
        F.sum(F.expr(f"shiftleft(1L, {k} - rho)")).alias("s_int"),
    )
    est = _hll_estimate(agg, p)
    exact = df.select(group_col, key_col).distinct().groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    # null-safe group join: a NULL group value (missing source) has
    # both an exact and an estimate row, but a plain equi-join never
    # matches NULL=NULL and would silently drop the whole group —
    # sibling kmv_distinct keeps NULL groups, the family must agree
    est2 = est.select(
        F.col(group_col).alias("_eg"), "occupied", "hll_estimate"
    )
    return exact.join(
        est2, F.col(group_col).eqNullSafe(F.col("_eg"))
    ).select(
        group_col,
        F.col("n_exact").cast("bigint"),
        F.col("occupied").cast("bigint"),
        "hll_estimate",
    )


def hll_union(
    df: DataFrame,
    key_col: str,
    group_col: str,
    p: int = 6,
    total_label: str = "ALL",
) -> DataFrame:
    """Per-group HLL estimates PLUS the union-of-all-groups estimate
    obtained by MERGING the per-group registers (bucket-wise MAX) —
    never re-scanning the corpus. Register merge is the algebraic
    property that makes HLL the sketch for cross-source cardinality
    audits: per-source sketches computed incrementally (per crawl, per
    shard) union in O(G * 2^p) work regardless of data size.

    EAGER end-to-end (round 8; register-stage-eager since round 7):
    the call runs ONE Spark job computing the register aggregates AND
    the exact accuracy counts — the register and exact-distinct
    branches are sibling stages of a single action, so they run
    CONCURRENTLY (round 7's register-first collect serialized them and
    measured ~1.6x on the registry bench) — then returns the bounded
    G+1 result rows as a local relation. Nothing is persisted (the
    register exchange is AQE-stage-reused across its two consumers —
    see the inline note), so a long-lived session calling this per
    tick pins nothing, and the total_label collision check raises at
    CALL time. Re-actions on the returned frame are free (no corpus
    re-scan).

    Output: (scope, n_exact, occupied, hll_estimate) — one row per
    group value plus one `total_label` row; exact counts ride along
    for the accuracy report."""
    k = HASH_BITS - p + 1
    # regs is deliberately NOT persisted: its two consumers (per-group
    # and bucket-merge) contain the IDENTICAL register exchange
    # subtree, which AQE's runtime stage reuse dedups (ReusedExchange,
    # plan-verified) — the corpus is scanned and partially aggregated
    # ONCE, exactly what the persist bought, without the memory-store
    # write, the unpersist bookkeeping, or any leak window. The
    # corpus-sized distinct frame below is likewise un-cached (the
    # kmv_set_overlap rule: its shuffle is exchange-reused across its
    # two consumers).
    regs = hll_registers(df, key_col, group_col, p)
    # the shift amount is a COLUMN (varies per register), so the SQL
    # form — the python F.shiftleft only takes a literal bit count
    term = F.expr(f"shiftleft(1L, {k} - rho)")
    per_group = regs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("occupied"), F.sum(term).alias("s_int")
    )
    # union sketch = bucket-wise max over the G*2^p register rows
    merged = regs.groupBy("bucket").agg(F.max("rho").alias("rho"))
    total = merged.agg(
        F.count(F.lit(1)).alias("occupied"), F.sum(term).alias("s_int")
    ).select(F.lit(total_label).alias(group_col), "occupied", "s_int")
    est = _hll_estimate(per_group.unionByName(total), p)
    keys = df.select(group_col, key_col).distinct()
    exact_g = keys.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    exact_t = keys.select(key_col).distinct().agg(
        F.count(F.lit(1)).alias("n_exact")
    ).select(F.lit(total_label).alias(group_col), "n_exact")
    exact = exact_g.unionByName(exact_t)
    # null-safe scope join — same rule as hll_distinct: a NULL group
    # would otherwise vanish from the per-group rows while its keys
    # still count toward the total row, leaving the two irreconcilable
    est2 = est.select(
        F.col(group_col).alias("_eg"), "occupied", "hll_estimate"
    )
    out = exact.join(
        est2, F.col(group_col).eqNullSafe(F.col("_eg"))
    ).select(
        F.col(group_col).alias("scope"),
        F.col("n_exact").cast("bigint"),
        F.col("occupied").cast("bigint"),
        "hll_estimate",
    )
    # ONE action for the whole result (bounded: G+1 rows of 4
    # scalars): register and exact branches run as concurrent stages
    # of a single job, and the returned local relation re-actions for
    # free.
    rows = out.collect()
    # a group literally named like the total row cross-joins with it
    # in the scope join, so >1 collected rows wear the label —
    # detected on the result, no extra job; refuse loudly before
    # anyone consumes the corrupted pair.
    if sum(1 for r in rows if r["scope"] == total_label) > 1:
        raise ValueError(
            f"hll_union: group value {total_label!r} collides with "
            f"total_label — pass a different total_label"
        )
    return df.sparkSession.createDataFrame(rows, out.schema)


def cm_sketch_freq(
    df: DataFrame,
    probe: DataFrame,
    key_col: str,
    d: int = 4,
    w_cells: int = 256,
) -> DataFrame:
    """Count-min sketch frequency estimation (Cormode & Muthukrishnan
    2005): d hash rows of w_cells counters summarize the FULL key
    stream in d*w_cells cells — constant memory regardless of corpus
    size, mergeable by cell-wise addition (the streaming/sharded
    heavy-hitter monitor). Estimated count of a key = MIN over its d
    cells; the estimate NEVER undercounts (every cell holds the key's
    true count plus non-negative collision mass) — `test_functions`
    asserts cm_estimate >= exact on every probe.

    Scale shape: the sketch build is one partially-aggregating groupBy
    over (row, cell) with at most d*w_cells groups (map-side combine
    collapses each task to <= d*w_cells rows before the exchange); the
    probe side joins the BROADCAST sketch (d*w_cells rows) and reduces
    d rows per probe key. The exact count (accuracy report) is the one
    corpus-scale aggregation; production drops it.

    Output: (key_col, exact_count, cm_estimate)."""
    hashes = [
        F.pmod(md5_draw(F.col(key_col), f"cm{j}"), F.lit(w_cells))
        for j in range(d)
    ]
    cells = df.select(
        F.posexplode(F.array(*hashes)).alias("j", "c")
    ).groupBy("j", "c").agg(F.count(F.lit(1)).alias("cell_count"))
    probe_cells = probe.select(
        F.col(key_col), F.posexplode(F.array(*hashes)).alias("j", "c")
    )
    # LEFT joins + coalesce-0 keep a probe key that never occurred in
    # the stream IN the output at (0, 0) — the per-probe output
    # contract a monitoring caller relies on ("how often did we see
    # X?" must answer 0, not vanish); an empty (j, c) cell is a
    # 0-count cell, so min over the d cells is 0 for such keys
    est = (
        probe_cells.join(F.broadcast(cells), ["j", "c"], "left")
        .groupBy(key_col)
        .agg(
            F.min(F.coalesce(F.col("cell_count"), F.lit(0)))
            .alias("cm_estimate")
        )
    )
    # NULL-SAFE joins end to end: a NULL probe key hashes fine
    # (md5_draw(NULL) is a constant), but plain equi-joins never match
    # NULL=NULL — the probe row would VANISH from the output, the
    # exact failure the per-probe contract above forbids, and its
    # exact count would silently miss the stream's null keys.
    exact = (
        df.join(
            probe.select(F.col(key_col).alias("_pk")),
            F.col(key_col).eqNullSafe(F.col("_pk")),
            "left_semi",
        )
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .select(F.col(key_col).alias("_ek"), "exact_count")
    )
    est2 = est.select(
        F.col(key_col).alias("_sk"), "cm_estimate"
    )
    return (
        probe.join(exact, F.col(key_col).eqNullSafe(F.col("_ek")), "left")
        .join(est2, F.col(key_col).eqNullSafe(F.col("_sk")), "left")
        .select(
            key_col,
            F.coalesce(F.col("exact_count"), F.lit(0))
            .cast("bigint")
            .alias("exact_count"),
            F.col("cm_estimate").cast("bigint"),
        )
    )


def group_sample_exact_n(
    df: DataFrame,
    group_col: str,
    n: int,
    id_col: str = "doc_id",
    seed: str = "samp",
) -> DataFrame:
    """Exactly-n-per-group deterministic sampling — "take 10k docs per
    language", the quota companion of the FRACTION-based
    `stratified_sample`. A group with fewer than n rows is kept whole.

    The sample is the n SMALLEST md5 draws per group, i.e. the same
    two-stage salted bottom-k as the KMV sketch (`_bottom_k_rows`
    with its own seed): per-(group, salt-shard) partial heaps keep at
    most n rows each, the final rank sees group x salt_parts x n
    survivors — no group ever funnels all its rows through one
    reducer, which is what breaks the naive single window at 100 TB
    group sizes. Determinism: draws are md5(seed|id), so the selected
    set is identical across engines, runs, and cluster sizes, and
    re-running with a larger n EXTENDS the sample (bottom-k sets are
    nested) — the property that lets a pipeline grow a held-out set
    without resampling it.

    PRECONDITION: rows must be unique per (group_col, id_col) — a
    table keyed by id, like every registry caller. Duplicate rows get
    identical draws and consume consecutive sample ranks
    (_bottom_k_rows ranks a distinct frame by contract), so a fanned-
    out join input would emit the same id at two ranks and fewer than
    n unique members; deduplicate upstream (an in-function distinct()
    would re-shuffle the full id table and defeat the partial-heap
    scale shape this sampler exists for).

    Output: (id_col, group_col, sample_rank) with sample_rank in
    1..n by draw order.
    """
    rows = _bottom_k_rows(
        df.select(group_col, id_col), id_col, group_col, n, 16, seed=seed
    )
    return rows.select(
        id_col, group_col, F.col("_rnk").cast("bigint").alias("sample_rank")
    )


def hist_quantiles(
    df: DataFrame,
    value_col: str,
    group_col: str,
    percents: tuple[int, ...] = (50, 95, 99),
    n_bins: int = 256,
    bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """Deterministic mergeable QUANTILE sketch — the fourth leg of the
    sketch suite (KMV/HLL for cardinality, count-min for frequency,
    this for distribution): per-group equal-width histogram over
    FROZEN global integer bounds, quantile estimate = the upper edge
    of the first bin whose cumulative count reaches the target rank.
    Estimate error is bounded by one bin width ((max-min+1)/n_bins);
    both engines' built-in approx quantiles (GK / t-digest) are
    implementation-defined and can never hash-match, while this
    sketch is integer arithmetic end to end — even the rank is the
    ceiling DIVISION (p*n + 99) // 100, never a float multiply.

    Scale shape: one min/max aggregate freezes the bounds (the
    add_seq_scalable bounds pattern — a key-only scan); the histogram
    is one partial-aggregating groupBy emitting <= groups x n_bins
    rows per task; the cumulative window runs over n_bins rows per
    group, never data. Bin counts MERGE by cell-wise addition under
    the same frozen bounds — per-shard histograms combine like
    count-min grids (freeze bounds per epoch in production). The
    exact disc quantile (value at the same rank) rides along for the
    accuracy report: it is the one per-group-sort term; production
    drops it.

    Output: (group_col, pct, n, est, exact) — est/exact are values
    from the input domain, bigint.
    """
    # NULL values carry no rank information: unfiltered, a null v would
    # clamp/bin to a NULL bucket that sorts FIRST in _hist_estimate's
    # cumulative window and still count toward n — silently skewing
    # every quantile (and yielding a null est when the rank lands in
    # the null bucket). The clamp only handles OUT-OF-RANGE, not null.
    vals = df.select(
        group_col, F.col(value_col).cast("bigint").alias("v")
    ).where(F.col("v").isNotNull())
    if bounds is None:
        b = vals.agg(
            F.min("v").alias("vmin"), F.max("v").alias("vmax")
        ).first()
        if b.vmin is None:
            raise ValueError(
                "hist_quantiles: empty input and no frozen bounds — "
                "nothing to derive bin edges from"
            )
        vmin, vmax = int(b.vmin), int(b.vmax)
    else:
        # FROZEN caller bounds — the per-epoch production mode and the
        # streaming monitor's requirement: every shard/batch must bin
        # against the same edges for the cell-wise merge to be exact.
        vmin, vmax = bounds
    span = vmax - vmin + 1
    # bin on the (clamped) value; the EXACT accuracy column stays on
    # the RAW value — under drifted frozen bounds the report must show
    # the estimate diverging from the truth, not a clamped "truth"
    binned = vals.withColumn("_vb", _hist_clamped(vmin, vmax))
    hist = binned.groupBy(
        group_col, _hist_bucket(vmin, span, n_bins).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    est = _hist_estimate(hist, group_col, percents, vmin, span, n_bins)
    targets = est.select(group_col, "pct", "rank")
    wrank = Window.partitionBy(group_col).orderBy("v")
    ranked = vals.withColumn("rn", F.row_number().over(wrank))
    exact = targets.join(
        ranked,
        (targets[group_col] == ranked[group_col])
        & (F.col("rn") == F.col("rank")),
    ).select(targets[group_col], "pct", F.col("v").alias("exact"))
    return est.join(exact, [group_col, "pct"]).select(
        group_col,
        F.col("pct").cast("bigint"),
        F.col("n").cast("bigint"),
        F.col("est").cast("bigint"),
        F.col("exact").cast("bigint"),
    )


def _hist_clamped(vmin: int, vmax: int) -> Column:
    """Clamp the working column `v` into the frozen bounds —
    out-of-range values land in the edge bins (the standard
    fixed-histogram behavior when an epoch's range drifts). Shared by
    the batch sketch and the streaming histogram monitor so the two
    can never bin differently."""
    return F.least(F.greatest(F.col("v"), F.lit(vmin)), F.lit(vmax))


def _hist_bucket(vmin: int, span: int, n_bins: int) -> Column:
    """Bucket id of the clamped column `_vb`: ((v-vmin)*n_bins) div
    span — integer `div` end to end (a double divide-then-cast would
    match only while products stay under 2^53). The ONE definition of
    the binning rule, shared batch/stream. Guards the bigint product:
    past 2^62 the multiply would WRAP silently (non-ANSI mode) and
    produce garbage buckets."""
    if span <= 0:
        raise ValueError(
            f"hist bounds invalid: vmin must be <= vmax (span {span})"
        )
    if span > (1 << 62) // n_bins:
        raise ValueError(
            f"hist bucket overflow: span {span} * n_bins {n_bins} "
            "exceeds the bigint guard — reduce n_bins or rescale the "
            "value column (e.g. nanoseconds -> seconds)"
        )
    return F.expr(f"((_vb - {vmin}) * {n_bins}) div {span}")


def _hist_estimate(
    hist: DataFrame,
    group_col: str,
    percents: tuple[int, ...],
    vmin: int,
    span: int,
    n_bins: int,
) -> DataFrame:
    """The ONE definition of quantile estimation from (group, bucket,
    cnt) histogram rows — shared by `hist_quantiles` and the streaming
    histogram monitor so the rank rule and bin-edge arithmetic can
    never drift between the batch oracle twin and the stream state
    reader. Returns (group_col, pct, n, rank, est)."""
    wcum = (
        Window.partitionBy(group_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(wcum))
    sizes = hist.groupBy(group_col).agg(F.sum("cnt").alias("n"))
    pcts = hist.sparkSession.createDataFrame(
        [(p,) for p in percents], ["pct"]
    )
    targets = sizes.crossJoin(F.broadcast(pcts)).withColumn(
        "rank", F.expr("(pct * n + 99) div 100")
    )
    # first bucket whose cumulative count reaches the rank; its upper
    # edge is the estimate. min() over qualifying buckets = "first".
    return (
        targets.join(cum, group_col)
        .where(F.col("cum") >= F.col("rank"))
        .groupBy(group_col, "pct", "n", "rank")
        .agg(F.min("bucket").alias("bucket"))
        .select(
            group_col,
            "pct",
            "n",
            "rank",
            # a value v lands in bucket b iff (v-vmin)*n_bins div span
            # == b, so the bin's true upper edge is the CEILING
            # division (floor would sit one below the largest member
            # whenever span % n_bins != 0)
            F.expr(
                f"{vmin} + (((bucket + 1) * {span} + {n_bins - 1})"
                f" div {n_bins}) - 1"
            ).alias("est"),
        )
    )


# Above this many ESTIMATED distinct keys, heavy_hitters(mode="auto")
# routes to the two-pass candidate plan: the naive groupBy exchanges
# the entire distinct-key tail, and past a few million keys those
# shuffle bytes dominate the extra scan the candidate pass costs. The
# honest local A/B (SCALING.md "heavy_hitters vs naive groupBy",
# 13M tokens): naive 1.4 s vs two-pass 3.9 s — locally naive WINS,
# because a 13M-row loopback shuffle is cheap; the crossover is the
# network-bound cluster regime. Same auto-guard pattern as
# bpe.py::DRIVER_VOCAB_CAP.
NAIVE_DISTINCT_CAP = 4_000_000


def _hh_route(
    stream: DataFrame,
    key_col: str,
    cap: int,
    sample_mod: int = 256,
) -> str:
    """Route on the quantity that actually differs between the plans —
    the distinct-key count the naive groupBy would exchange — estimated
    from a KEY-HASH sample: keys whose md5 draw lands in a 1/sample_mod
    bucket are a uniform sample of the DISTINCT key population (every
    occurrence of a key agrees on membership), so
    distinct(sampled) * sample_mod is an unbiased estimate at
    1/sample_mod of the exchange cost. One cheap extra scan; the
    decision never affects the RESULT (both routes are exact and
    identical — tested)."""
    sampled = (
        stream.where(
            F.pmod(md5_draw(F.col(key_col), "hhroute"), F.lit(sample_mod))
            == 0
        )
        .select(key_col)
        .distinct()
        .count()
    )
    return "naive" if sampled * sample_mod <= cap else "twopass"


def _hh_local_stats(
    stream: DataFrame, key_col: str, num: int, denom: int
) -> DataFrame:
    """Pass 1 of the two-pass plan, as a LAZY frame (exposed so plan
    evidence can show it — heavy_hitters itself materializes it): per
    Arrow batch (a finer split than a partition only ENLARGES the
    guaranteed candidate superset), local heavy hitters plus one
    `_n`-row carrying the batch's row count, so the total N comes out
    of THIS pass — a genuine two-scan algorithm, not two passes plus
    a count job."""
    import pandas as pd

    theta_num, theta_den = num, denom

    def local_stats(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            counts = pdf[key_col].value_counts()
            thresh = theta_num * len(pdf) / theta_den
            keep = counts[counts >= thresh]
            yield pd.DataFrame(
                {
                    key_col: list(keep.index) + [None],
                    "_n": [None] * len(keep) + [len(pdf)],
                }
            )

    # the key field must be NULLABLE here regardless of the input
    # schema: the per-batch `_n` rows carry a null key by design
    stats_schema = T.StructType(
        [
            T.StructField(key_col, stream.schema[key_col].dataType, True),
            T.StructField("_n", T.LongType()),
        ]
    )
    return stream.mapInPandas(local_stats, stats_schema)


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    num: int = 1,
    denom: int = 500,
    mode: str = "auto",
    naive_distinct_cap: int = NAIVE_DISTINCT_CAP,
) -> DataFrame:
    """EXACT frequency-threshold heavy hitters (all keys with global
    count >= (num/denom) * N) in two passes where the Zipf TAIL never
    shuffles — the 100 TB alternative to groupBy(key).count() over a
    trillion-token vocabulary whose long tail dominates the exchange.

    Pass 1 (candidates, shuffle-free): per PARTITION, count locally
    and emit keys with local_count >= theta * local_rows. Averaging
    argument: if a key's global count is >= theta*N, it cannot be
    below theta*n_p in EVERY partition (else summing gives < theta*N)
    — so the union of local heavy hitters is a GUARANTEED SUPERSET of
    the global ones, at most denom/num keys per partition, regardless
    of how the data is partitioned. No hashing tricks, no error: the
    superset property is exact.

    Pass 2 (verify): broadcast the candidate set, semi-join the stream
    (the tail rows drop BEFORE the exchange), aggregate only candidate
    keys, keep count * denom >= num * N — pure integer arithmetic, no
    float threshold. The output is exact and partitioning-independent
    (pass 1's partitioning affects only which non-hitters sneak into
    the candidate superset to be verified away).

    NULL keys are excluded everywhere (stream, candidates, and the
    n_total denominator) — a null "key" is not a countable item, and
    half-excluding it would skew every threshold. The total N comes
    out of pass 1 (per-batch `_n` rows summed on the tiny stats
    frame), so the algorithm really is two data scans.

    ``mode``: "twopass" forces the candidate plan above; "naive" is
    the plain groupBy(key).count() filter (2 scans too: a count(*)
    for N, then the aggregate) whose exchange carries the FULL
    distinct-key tail — the faster plan on a single box or a small
    vocabulary, the losing one when tail shuffle bytes dominate
    (measured A/B in SCALING.md); "auto" (default) picks by a
    sampled distinct-count estimate vs `naive_distinct_cap`. All
    routes return the identical exact result (tested). Both routes
    stay because "auto" chooses between them from what it measures.

    Output: (key_col, cnt, n_total), count-descending ties by key.
    """
    import pandas as pd

    spark = df.sparkSession
    theta_num, theta_den = num, denom

    # NULL keys are excluded from BOTH the stream and the denominator
    # (pandas value_counts drops NaN/None and the semi-join would too;
    # silently keeping them only in n_total would skew every threshold)
    stream = df.select(key_col).where(F.col(key_col).isNotNull())

    if mode not in ("auto", "naive", "twopass"):
        raise ValueError(f"heavy_hitters: unknown mode {mode!r}")
    if mode == "auto":
        mode = _hh_route(stream, key_col, naive_distinct_cap)
    if mode == "naive":
        n_total = stream.count()
        verified = (
            stream.groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .where(F.col("cnt") * theta_den >= theta_num * F.lit(n_total))
        )
        return verified.select(
            key_col,
            F.col("cnt").cast("bigint"),
            F.lit(n_total).cast("bigint").alias("n_total"),
        ).orderBy(F.col("cnt").desc(), key_col)

    # bounded by construction: <= (denom/num + 1) rows per Arrow batch
    stats = _hh_local_stats(stream, key_col, num, denom).persist()
    try:
        n_total = int(
            stats.agg(F.sum("_n").alias("n")).first().n or 0
        )
        # materialize the candidate superset NOW (driver-bounded: the
        # broadcast below would collect it to the driver anyway) so the
        # persisted stats frame can be RELEASED here instead of leaking
        # until session end — the returned frame must not lazily
        # reference stats
        cand_rows = (
            stats.where(F.col("_n").isNull())
            .select(key_col)
            .distinct()
            .collect()
        )
    finally:
        stats.unpersist()
    cands = spark.createDataFrame(
        cand_rows, T.StructType([stats.schema[key_col]])
    )
    verified = (
        stream.join(F.broadcast(cands), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") * theta_den >= theta_num * F.lit(n_total))
    )
    return verified.select(
        key_col,
        F.col("cnt").cast("bigint"),
        F.lit(n_total).cast("bigint").alias("n_total"),
    ).orderBy(F.col("cnt").desc(), key_col)
