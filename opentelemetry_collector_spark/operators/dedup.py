"""Deduplication operators over the `documents` table.

Exact + near-dup family for training-data pipelines:
- exact:       groupBy(md5(text)) keep min doc_id — one shuffle on a
               16-byte key, the 100 TB-safe baseline;
- normalized:  same on normalize_text;
- minhash+LSH: word-shingles → k minhash signatures → banded bucket
               keys → self-join per bucket. The self-join is on the
               band key ONLY (tiny buckets), never all-pairs; shuffle
               is O(docs·bands), candidate verification is per-bucket;
- n-gram Jaccard: exact similarity on LSH candidates (array_intersect
               over distinct shingle sets);
- simhash:     64-bit sign-of-sums fingerprint held as TWO 32-bit
               halves (simhash0 = bits 0-31, simhash1 = bits 32-63),
               computed entirely in Catalyst (md5-hex → int token
               hashes, one aggregate over the token array) so the
               DuckDB oracle reproduces it bit-exactly; near-dups =
               hamming ≤ t via (t+1)-chunk pigeonhole banding.

Engine-portable hashing: minhash uses md5 hex strings and LEXICOGRAPHIC
min — hex of fixed length preserves numeric order, so this is a valid
uniform minhash AND the DuckDB oracle can reproduce it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_spark.functions.text import (
    normalize_text,
    oracle_fingerprint,
    oracle_word_grams,
    spread_to_parallelism,
    word_grams,
)

DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4  # 4 bands × 4 rows
# LSH hot-bucket cap: a band bucket with k members yields k·(k-1)/2
# candidate pairs, so one boilerplate bucket can dominate the whole
# join (k² blowup AQE can split but not shrink). Buckets larger than
# this are dropped from candidate generation — their members are
# near-identical boilerplate already caught by exact/normalized dedup.
DEFAULT_MAX_BUCKET = 256


def _cap_hot_buckets(keyed: DataFrame, key_col: str, max_bucket: int | None) -> DataFrame:
    """THE hot-bucket cap (one definition for every candidate
    generator): drop rows whose bucket key holds more than max_bucket
    members — a bucket of m emits m²/2 candidate pairs, which AQE can
    split but never shrink. Window form measured 21% faster than
    aggregate+semi-join at sf0.1 and its exchange co-locates with the
    self-join that follows."""
    if max_bucket is None:
        return keyed
    from pyspark.sql import Window

    w = Window.partitionBy(key_col)
    return (
        keyed.withColumn("_bc", F.count(F.lit(1)).over(w))
        .filter(F.col("_bc") <= max_bucket)
        .drop("_bc")
    )


# ------------------------------------------------------------------ exact

def exact_dedup_keepers(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One surviving doc_id per distinct text (min id wins)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def normalized_dedup_keepers(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    return (
        df.groupBy(F.md5(normalize_text(F.col(text_col))).alias("text_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# ---------------------------------------------------------------- minhash

def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (the ONE shared gram builder —
    functions/text.word_grams — wrapped in a distinct)."""
    return F.array_distinct(word_grams(text, n))


def _seeded_md5(seed: int):
    # NB: the lambda must take exactly ONE arg — F.transform passes the
    # array index to a second parameter, which would silently override a
    # default-arg seed binding.
    prefix = f"{seed}|"
    return lambda s: F.md5(F.concat(F.lit(prefix), s))


def minhash_signature(shingles: Column, num_hashes: int = DEFAULT_NUM_HASHES) -> Column:
    """Array of num_hashes minhash values (md5-hex strings, lexic. min)."""
    return F.array(
        *[
            F.array_min(F.transform(shingles, _seeded_md5(i)))
            for i in range(num_hashes)
        ]
    )


# the ONE spread rule lives in functions/text.spread_to_parallelism
_spread = spread_to_parallelism


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_n: int = 3,
) -> DataFrame:
    sh = word_shingles(F.col(text_col), shingle_n)
    return _spread(df).withColumn("shingles", sh).withColumn(
        "minhash", minhash_signature(F.col("shingles"), num_hashes)
    )


def _md5_32(c: Column, off: int = 0) -> Column:
    """32-bit int from md5-hex chars [off+1, off+8] — the engine-portable
    hash primitive shared by simhash and winnowing (DuckDB mirror:
    _oracle_md5_32)."""
    return F.conv(F.substring(F.md5(c), off + 1, 8), 16, 10).cast("long")


def _oracle_md5_32(expr: str, off: int = 0) -> str:
    return f"('0x' || substr(md5({expr}), {off + 1}, 8))::BIGINT"


def _band_keyed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> tuple[DataFrame, DataFrame]:
    """(minhash frame, exploded (id, band-key) frame) — shared by
    candidate generation and hot-bucket observability."""
    m = with_minhash(df, text_col, num_hashes, shingle_n)
    keyed = m.select(
        F.col(id_col).alias("id"),
        F.explode(band_keys(F.col("minhash"), bands, num_hashes)).alias("bk"),
    )
    return m, keyed


def band_keys(sig: Column, bands: int = DEFAULT_BANDS, num_hashes: int = DEFAULT_NUM_HASHES) -> Column:
    rows = num_hashes // bands
    return F.array(
        *[
            F.concat_ws(
                "#", F.lit(str(b)), *[sig[b * rows + r] for r in range(rows)]
            )
            for b in range(bands)
        ]
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    persist_handle: list | None = None,
    candidates_only: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing ≥1 LSH band bucket.

    ``candidates_only=True`` returns the bare (id_a, id_b) candidate
    frame without the shingle payload join — the scale-growth bench
    counts EXACTLY the frame verification would consume.

    Scale: explode to (band_key, id), self-join per bucket — shuffle on
    band_key. Hot buckets (boilerplate docs) are the skew risk: AQE
    skew-join splits the shuffle but not the k² pair count, so buckets
    with > max_bucket members are dropped from candidate generation
    (``hot_bucket_stats`` reports what a given cap would drop). Pass
    ``persist_handle=[]`` to receive the persisted intermediate and
    unpersist it deterministically once the result is materialized.
    """
    # persist: m feeds THREE lazy branches (band keys, sh_a, sh_b) —
    # without it the scan + shingle work runs 3× (measured 2.7× slower);
    # callers unpersist via persist_handle, else the ContextCleaner
    # reclaims it when the frame is GC'd. The bucket join sees NARROW
    # (band_key, id) rows only: pair dedup shuffles 16-byte tuples,
    # never shingle arrays — the payload join below touches each
    # candidate id exactly once.
    m, keyed = _band_keyed(df, id_col, text_col, num_hashes, bands, shingle_n)
    m = m.persist()
    if persist_handle is not None:
        persist_handle.append(m)
    keyed = _cap_hot_buckets(keyed, "bk", max_bucket)
    a = keyed.select("bk", F.col("id").alias("id_a"))
    b = keyed.select("bk", F.col("id").alias("id_b"))
    pairs = (
        a.join(b, on="bk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if candidates_only:
        return pairs
    sh = m.select(F.col(id_col).alias("id"), F.col("shingles"))
    return (
        pairs.join(sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")), "id_b")
        .select("id_a", "id_b", "sh_a", "sh_b")
    )


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(F.array_union(sh_a, sh_b))
    return F.round(inter / F.greatest(union, F.lit(1)), 6)


def neardup_pairs_minhash(
    df: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kw,
) -> DataFrame:
    """MinHash-LSH candidates verified by exact shingle Jaccard.

    Forwards ``max_bucket`` / ``persist_handle`` to lsh_candidate_pairs.
    """
    cand = lsh_candidate_pairs(df, id_col, text_col, **kw)
    return (
        cand.withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def hot_bucket_stats(
    df: DataFrame,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
) -> DataFrame:
    """Observability for the hot-bucket cap: per-bucket member counts of
    buckets the cap would drop (empty frame = cap is inert on this data)."""
    _m, keyed = _band_keyed(df, id_col, text_col, num_hashes, bands, shingle_n)
    return (
        keyed.groupBy("bk")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > max_bucket)
    )


def neardup_pairs_bruteforce(
    df: DataFrame, threshold: float = 0.7, id_col: str = "doc_id", text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """All-pairs exact Jaccard — O(n²), the small-scale oracle for LSH
    recall tests only. Never the scale path."""
    s = df.select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col), shingle_n).alias("sh")
    )
    a = s.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = s.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------- simhash
#
# 64-bit simhash held as two 32-bit halves (simhash0 = bits 0-31,
# simhash1 = bits 32-63). Token hash = md5 hex halves parsed as ints —
# 32-bit values so conv()/'0x'-cast stay exact in BOTH engines, making
# the fingerprint DuckDB-oracle-reproducible. All Catalyst: one md5 per
# token, one array aggregate per half — no Python anywhere (the round-1
# pandas UDF iterated rows AND tokens in the interpreter).


def _bitsigns32(h: Column) -> Column:
    """[±1]×32: +1 where bit b of h is set, -1 otherwise."""
    return F.array(
        *[
            (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - F.lit(1)).cast("long")
            for b in range(32)
        ]
    )


def _half_fp(tok_hashes: Column) -> Column:
    """Sign-of-sums fingerprint of one 32-bit half (long in [0, 2^32))."""
    sums = F.aggregate(
        tok_hashes,
        F.array_repeat(F.lit(0).cast("long"), 32),
        lambda acc, h: F.zip_with(acc, _bitsigns32(h), lambda a, s: a + s),
    )
    powers = F.array(*[F.lit(1 << b).cast("long") for b in range(32)])
    return F.aggregate(
        F.zip_with(
            sums, powers, lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def with_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Staged as separate projections so each intermediate array is
    materialized ONCE per row: Catalyst will not collapse projects when
    that would duplicate the non-cheap transform/md5 expressions, so
    the md5 pass runs once instead of once per half (measured ~35% of
    simhash wall time)."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    out = (
        _spread(df)
        .withColumn("_hx", F.transform(toks, lambda t: F.md5(t)))
        .withColumn(
            "_th0",
            F.transform(
                F.col("_hx"),
                lambda h: F.conv(F.substring(h, 1, 8), 16, 10).cast("long"),
            ),
        )
        .withColumn(
            "_th1",
            F.transform(
                F.col("_hx"),
                lambda h: F.conv(F.substring(h, 9, 8), 16, 10).cast("long"),
            ),
        )
    )
    return (
        out.withColumn("simhash0", _half_fp(F.col("_th0")))
        .withColumn("simhash1", _half_fp(F.col("_th1")))
        .drop("_hx", "_th0", "_th1")
    )


def _chunk_val(fp0: Column, fp1: Column, lo: int, hi: int) -> Column:
    """Bits [lo, hi) of the logical 64-bit fingerprint (may straddle
    the half boundary at bit 32)."""
    if hi <= 32:
        return F.shiftright(fp0, lo).bitwiseAND(F.lit((1 << (hi - lo)) - 1))
    if lo >= 32:
        return F.shiftright(fp1, lo - 32).bitwiseAND(F.lit((1 << (hi - lo)) - 1))
    low = F.shiftright(fp0, lo).bitwiseAND(F.lit((1 << (32 - lo)) - 1))
    high = F.shiftleft(fp1.bitwiseAND(F.lit((1 << (hi - 32)) - 1)), 32 - lo)
    return low + high


# Hamming budgets below this use single-chunk pigeonhole keys (chunk
# width ≥ 64/4 = 16 bits); budgets ≥ 4 switch to HmSearch-style
# pair-of-chunks keys — thinner single chunks would have only
# 64/(t+1)-bit keys (~7 bits at t=8 → every bucket holds ~n/200 docs →
# an effectively quadratic candidate join at corpus scale).
SIMHASH_PAIR_KEY_MIN_HAMMING = 4


def _pair_key_regime(max_hamming: int) -> bool:
    """Pair-of-chunks keys need ≥2 intact chunks, i.e. t+2 ≤ 64 chunks
    over the 64 fingerprint bits. At t ≥ 63 only one chunk is
    guaranteed intact, so the pair pigeonhole no longer holds — fall
    back to single-chunk keys (64 one-bit chunks still guarantee one
    intact chunk at t = 63) instead of silently losing recall."""
    if max_hamming >= 64:
        raise ValueError(
            f"max_hamming={max_hamming} >= 64: every 64-bit pair is "
            "within budget — banding is meaningless"
        )
    return SIMHASH_PAIR_KEY_MIN_HAMMING <= max_hamming <= 62


def simhash_q_for(n_docs: int, max_hamming: int = 8, q_max: int = 8) -> int:
    """Key tuple size q scaled with corpus size — the simhash analog
    of similarity.ann_bits_for.

    q-of-m keys (m = t+q chunks) have width ≈ q·64/(t+q) bits, which
    GROWS with q toward 64: the fixed pair keys (q=2, ~12.8 bits at
    t=8) leave random-collision candidates growing as n²/2^12.8 until
    the hot-bucket cap degenerates (~1.8M docs at t=8) — measured
    15.8× candidate growth for a 4× corpus (plans/scale_growth.py).
    Rule: smallest q in [2, q_max] whose key space holds ≥ 8·n values,
    so expected random candidates per key position stay ≤ n/16 and
    total candidate volume is bounded by the ENVELOPE
    C(t+q, q)·n/16 — linear in n with a piecewise-constant factor
    (within one q bracket, spanning ~26× in n, the point-to-point
    ratio approaches the envelope ~quadratically and resets at the
    transition; both measured octaves sit inside it, see
    BENCH/BASELINE.md r4). Cost: C(t+q, q) keys per doc (45 at q=2 →
    165 at q=3 → 12870 at q=8); q_max=8 covers corpora to
    ~2^32·16 ≈ 7·10^10 docs at t=8."""
    if not _pair_key_regime(max_hamming):
        return 1
    for q in range(2, q_max + 1):
        if max_hamming + q > 64:
            break
        if (1 << (q * 64 // (max_hamming + q))) >= 8 * max(n_docs, 1):
            return q
    return min(q_max, 64 - max_hamming)


def simhash_chunk_bounds(max_hamming: int, q: int = 2) -> list[int]:
    """Pigeonhole chunk boundaries over the 64 fingerprint bits.

    Single-key regime (t < SIMHASH_PAIR_KEY_MIN_HAMMING, or the t=63
    degenerate, or q=1): t+1 chunks — ≤ t flipped bits leave ≥1 chunk
    intact, so any in-budget pair shares ≥1 exact chunk.

    q-tuple regime (t ≥ 4, q ≥ 2): t+q chunks — ≤ t flips corrupt ≤ t
    chunks, leaving ≥ q intact, so some q-SUBSET of chunks matches
    exactly; keys are all C(t+q, q) chunk combinations
    (simhash_key_exprs). Key width scales with q: q·64/(t+q) bits
    (12.8 at q=2, 32 at q=8 for t=8) — choose q via simhash_q_for so
    key cardinality tracks corpus size."""
    multi = _pair_key_regime(max_hamming) and q >= 2
    if multi and max_hamming + q > 64:
        raise ValueError(f"max_hamming={max_hamming} + q={q} exceeds 64 bits")
    n_chunks = max(2, max_hamming + (q if multi else 1))
    return [round(i * 64 / n_chunks) for i in range(n_chunks + 1)]


def _simhash_chunk_vals(fp0: Column, fp1: Column, bounds: list[int]) -> list[Column]:
    return [
        _chunk_val(fp0, fp1, bounds[c], bounds[c + 1])
        for c in range(len(bounds) - 1)
    ]


def _q_key_layout(max_hamming: int, q: int):
    """THE q-tuple key layout (ONE definition — simhash_key_exprs,
    _keyed_chunks and oracle_simhash_keys all pack from this):
    (chunk bounds, max chunk width w, ordered combination list).
    Packing contract: key = (combo_index << q·w) + Σ_j value_j << (q-1-j)·w,
    asserted to fit signed 64."""
    from itertools import combinations

    bounds = simhash_chunk_bounds(max_hamming, q)
    w = max(bounds[c + 1] - bounds[c] for c in range(len(bounds) - 1))
    combos = list(combinations(range(len(bounds) - 1), q))
    assert q * w + max(1, (len(combos) - 1).bit_length()) <= 63, (max_hamming, q)
    return bounds, w, combos


def simhash_key_exprs(
    fp0: Column, fp1: Column, max_hamming: int, q: int = 2
) -> list[Column]:
    """Banding keys guaranteeing recall for hamming ≤ max_hamming (see
    simhash_chunk_bounds for the regimes; q from simhash_q_for).

    Keys are packed LONGS, not strings — (key_index, chunk values)
    bit-packed into one 64-bit integer: 45 string concats per row and a
    string-keyed shuffle measured ~3× slower at sf0.1. Pair regime
    (q=2): m = t+2 ≥ 6 chunks → each value < 2^16, index < 2^11, so
    ((idx << 16) | v1) << 16 | v2 < 2^43. q ≥ 3: each value shifted by
    the max chunk width w (q·w ≤ 48 bits of values for q ≤ 8 at t=8)
    with the combination index above — fits signed 64 for every valid
    (t, q). Single regime (t < 4, or the t=63 degenerate fallback of
    one-bit chunks): (idx << 32) | v with v < 2^32 → < 2^39."""
    from itertools import combinations

    bounds = simhash_chunk_bounds(max_hamming, q)
    vals = _simhash_chunk_vals(fp0, fp1, bounds)
    if not (_pair_key_regime(max_hamming) and q >= 2):
        return [
            (F.lit(c * (1 << 32)).cast("long") + v.cast("long"))
            for c, v in enumerate(vals)
        ]
    if q == 2:  # byte-stable with the r3 pair packing
        keys = []
        idx = 0
        for c1 in range(len(vals)):
            for c2 in range(c1 + 1, len(vals)):
                keys.append(
                    F.lit(idx << 32).cast("long")
                    + F.shiftleft(vals[c1].cast("long"), 16)
                    + vals[c2].cast("long")
                )
                idx += 1
        return keys
    _bounds, w, combos = _q_key_layout(max_hamming, q)
    keys = []
    for idx, combo in enumerate(combos):
        key = F.lit(idx << (q * w)).cast("long")
        for j, c in enumerate(combo):
            key = key + F.shiftleft(vals[c].cast("long"), (q - 1 - j) * w)
        keys.append(key)
    return keys


def _keyed_chunks(sh: DataFrame, max_hamming: int, q: int) -> DataFrame:
    """(id, chunk-key) rows for the banding self-join.

    q ≤ 2 / single regime: explode over the literal key-expression
    array (byte-stable with r3). q ≥ 3: C(t+q, q) key expressions
    exceed janino's 64 KB method limit (measured: whole-stage codegen
    falls back to interpreted eval, ~2.4× slower at q=3) — so the
    combination table becomes DATA: stage the m chunk values as ONE
    array column, posexplode a constant array of combination index
    arrays, and assemble each key from element_at. Expression size is
    O(q) regardless of C(t+q, q); key values are identical to
    simhash_key_exprs (pinned by test)."""
    from itertools import combinations

    if not (_pair_key_regime(max_hamming) and q >= 3):
        keys = simhash_key_exprs(
            F.col("simhash0"), F.col("simhash1"), max_hamming, q
        )
        return sh.select("id", F.explode(F.array(*keys)).alias("chunk"))
    bounds, w, combos = _q_key_layout(max_hamming, q)
    vals = _simhash_chunk_vals(F.col("simhash0"), F.col("simhash1"), bounds)
    combo_lit = F.array(
        *[F.array(*[F.lit(c) for c in combo]) for combo in combos]
    )
    staged = sh.select("id", F.array(*[v.cast("long") for v in vals]).alias("_chunks"))
    rows = staged.select(
        "id", "_chunks", F.posexplode(combo_lit).alias("_idx", "_combo")
    )
    key = F.shiftleft(F.col("_idx").cast("long"), q * w)
    for j in range(q):
        key = key + F.shiftleft(
            F.element_at(F.col("_chunks"), F.element_at(F.col("_combo"), j + 1) + 1),
            (q - 1 - j) * w,
        )
    return rows.select("id", key.alias("chunk"))


def simhash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    persist_handle: list | None = None,
    candidates_only: bool = False,
    q: int = 2,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance ≤ max_hamming.
    ``candidates_only=True``: the bare pre-verify candidate frame.
    ``q``: key tuple size — pass simhash_q_for(n_docs, max_hamming)
    so key cardinality scales with the corpus.

    Scale path: chunk/pair-key banding (simhash_key_exprs) — the join
    is on key equality, never all-pairs — plus the same windowed
    hot-bucket cap as the minhash path: a key shared by m boilerplate
    docs would emit m² candidate rows (AQE splits the shuffle but not
    the pair count), so keys with > max_bucket members generate no
    candidates — their members are caught by exact/normalized dedup.

    The narrow (id, fp0, fp1) frame is persisted BEFORE the explode:
    both self-join sides consume it, and a Generate over the staged
    fingerprint projections would splice the md5/aggregate expression
    tree into each side (the same ~100× trap the winnow path documents).
    """
    sh = (
        with_simhash(df, text_col)
        .select(F.col(id_col).alias("id"), "simhash0", "simhash1")
        .persist()
    )
    if persist_handle is not None:
        persist_handle.append(sh)
    chunks = _keyed_chunks(sh, max_hamming, q)
    chunks = _cap_hot_buckets(chunks, "chunk", max_bucket)
    # NARROW candidate dedup (ids only — a pair collides in up to
    # C(m,2) keys, so the dedup shuffle dominates; 2 longs beat 6), then
    # fingerprints rejoin once from the persisted frame — the exact
    # minhash/winnow payload posture
    a = chunks.select("chunk", F.col("id").alias("id_a"))
    b = chunks.select("chunk", F.col("id").alias("id_b"))
    pairs = (
        a.join(b, on="chunk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if candidates_only:
        return pairs
    fa = sh.select(
        F.col("id").alias("id_a"),
        F.col("simhash0").alias("a0"), F.col("simhash1").alias("a1"),
    )
    fb = sh.select(
        F.col("id").alias("id_b"),
        F.col("simhash0").alias("b0"), F.col("simhash1").alias("b1"),
    )
    hamming = F.bit_count(F.col("a0").bitwiseXOR(F.col("b0"))) + F.bit_count(
        F.col("a1").bitwiseXOR(F.col("b1"))
    )
    return (
        pairs.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# -------------------------------------------------------------- winnowing
#
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
# MOSS algorithm): hash every k-gram of the normalized text, slide a
# window of w hashes, keep each window's minimum, dedupe. Guarantees
# any match of length ≥ k+w-1 shares a fingerprint. All Catalyst
# (sequence/transform/slice/array_min); the k-gram hash is a Karp-Rabin
# polynomial mod 2^32 in exact integer arithmetic — O(k) multiply-adds
# per position instead of the r2 md5-per-position (measured ~10 s for
# 500 docs at sf0.01), and reproducible bit-exactly in DuckDB.

# k=20 chars ≈ a 3-word run: a shared k-gram then implies verbatim
# copying, not vocabulary overlap. The r3 default k=8 fit inside ONE
# common word, so every pair of docs sharing ≥4 frequent words became
# a candidate — measured 7.9× candidate growth for a 4× corpus
# (plans/scale_growth.py) even with the match-count candidacy rule;
# k=20 restores MOSS's intended "matches of length ≥ k+w-1" semantic
# (≥ 23 chars) and makes random candidacy rare.
WINNOW_K = 20  # k-gram length (chars of normalized text)
WINNOW_W = 4  # window size
KR_BASE = 257  # > any code point byte spread; odd → invertible mod 2^32
KR_MOD = 1 << 32


def _kr_pows(k: int) -> list[int]:
    """[B^(k-1), ..., B, 1] mod 2^32 — per-position weights."""
    p = [1] * k
    for j in range(1, k):
        p[j] = (p[j - 1] * KR_BASE) % KR_MOD
    return list(reversed(p))


def _char_codes(norm: Column) -> Column:
    """Unicode code points of each char. Spark ascii() == DuckDB ascii()
    including the full code-point range and '' → 0; split(s, '') yields
    [''] for the empty string in BOTH engines, so codes is never empty."""
    return F.transform(F.split(norm, ""), lambda c: F.ascii(c).cast("long"))


def _kr_fold(codes: Column) -> Column:
    """Horner fold of the whole code array mod 2^32 (the n < k fallback).
    DuckDB's list_reduce has no init value — it seeds with element 1,
    which equals Spark's 0-init fold because 0·B + c1 = c1."""
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * KR_BASE + c) % KR_MOD,
    )


def _winnow_grams(codes: Column, k: int) -> Column:
    """Karp-Rabin k-gram hashes at positions 1..n-k+1. Each term is
    code·B^j mod 2^32 ≤ 2^53, the 8-term sum ≤ 2^56 — exact in signed
    64-bit in both engines, one final mod. `codes` must be a
    MATERIALIZED column (same staging rule as every winnow stage)."""
    pows = _kr_pows(k)
    n = F.size(codes)

    def gram(i: Column) -> Column:
        s = F.lit(0).cast("long")
        for j in range(k):
            s = s + F.element_at(codes, i + j) * F.lit(pows[j]).cast("long")
        return s % F.lit(KR_MOD).cast("long")

    return F.when(
        n >= k,
        F.transform(F.sequence(F.lit(1), n - (k - 1)), gram),
    ).otherwise(F.array(_kr_fold(codes)))


def _winnow_mins(grams: Column, w: int) -> Column:
    """Window minima over a MATERIALIZED gram-hash column (same
    staging rule as _winnow_grams)."""
    mins = F.when(
        F.size(grams) >= w,
        F.transform(
            F.sequence(F.lit(1), F.size(grams) - (w - 1)),
            lambda j: F.array_min(F.slice(grams, j, w)),
        ),
    ).otherwise(F.array(F.array_min(grams)))
    return F.array_distinct(mins)


def with_winnow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """Stages norm → grams → minima as separate projections so each is
    evaluated once per row (Catalyst will not collapse projects when
    that duplicates non-cheap expressions)."""
    # NULL text ≡ '' on BOTH engines: without the coalesce Spark keeps a
    # [NULL] fingerprint array while DuckDB list_distinct strips NULLs —
    # an oracle-parity break on any corpus with NULL rows
    return (
        _spread(df)
        .withColumn("_nrm", F.coalesce(normalize_text(F.col(text_col)), F.lit("")))
        .withColumn("_codes", _char_codes(F.col("_nrm")))
        .withColumn("_grams", _winnow_grams(F.col("_codes"), k))
        .withColumn("winnow_fp", _winnow_mins(F.col("_grams"), w))
        .drop("_nrm", "_codes", "_grams")
    )


def neardup_pairs_winnow(
    df: DataFrame,
    min_shared: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    min_cand_shared: int = 4,
    persist_handle: list | None = None,
    candidates_only: bool = False,
) -> DataFrame:
    """Near-dup pairs sharing ≥ min_shared winnowing fingerprints.
    ``candidates_only=True``: the bare pre-score candidate frame.

    Scale shape — the exact MinHash-LSH posture: CANDIDATE pairs come
    from a per-fingerprint self-join with a hot-bucket cap (a
    boilerplate fingerprint shared by m docs yields m²/2 join rows, so
    fingerprints in more than max_bucket docs never generate
    candidates), then surviving pairs are SCORED on their FULL
    fingerprint sets (array_intersect) — the cap bounds the shuffle
    without corrupting n_shared.

    Candidacy additionally requires ≥ min_cand_shared shared CAPPED
    fingerprints (the MOSS match-count rule): single 8-char grams are
    common across unrelated documents, so 1-shared-fp candidacy is
    near-quadratic on real corpora (measured 4.7M candidate pairs from
    5k docs at sf0.1; ≥4 leaves 263k). The count aggregate rides the
    same shuffle dropDuplicates needed anyway — pairs whose overlap is
    mostly boilerplate (capped-out fingerprints) are the trade-off.
    The floor is clamped to min_shared so a caller asking for
    min_shared < 4 keeps the documented contract.

    The fingerprint frame is persisted BEFORE the explode: pushing a
    Generate through the staged winnow projections makes the optimizer
    splice the full gram/min expression tree into the Generate's input
    (md5 count in the optimized plan went 2 → 18, measured ~100×
    slower); the cache barrier keeps the arrays materialized once per
    row. Pass ``persist_handle=[]`` to unpersist deterministically."""
    min_cand_shared = min(min_cand_shared, min_shared)
    m = (
        with_winnow(df, text_col, id_col, k, w)
        .select(F.col(id_col).alias("id"), "winnow_fp")
        .persist()
    )
    if persist_handle is not None:
        persist_handle.append(m)
    fp = _cap_hot_buckets(
        m.select("id", F.explode("winnow_fp").alias("h")), "h", max_bucket
    )
    a = fp.select("h", F.col("id").alias("id_a"))
    b = fp.select("h", F.col("id").alias("id_b"))
    cand = (
        a.join(b, on="h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_nc"))
        .filter(F.col("_nc") >= min_cand_shared)
        .select("id_a", "id_b")
    )
    if candidates_only:
        return cand
    fa = m.select(F.col("id").alias("id_a"), F.col("winnow_fp").alias("fp_a"))
    fb = m.select(F.col("id").alias("id_b"), F.col("winnow_fp").alias("fp_b"))
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn(
            "n_shared",
            F.size(F.array_intersect(F.col("fp_a"), F.col("fp_b"))).cast("long"),
        )
        .filter(F.col("n_shared") >= min_shared)
        .select("id_a", "id_b", "n_shared")
    )


# ------------------------------------------------------------- oracle SQL

def oracle_exact_dedup(table: str = "documents") -> str:
    return f"""
        SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
               cast(count(*) AS bigint) AS n_dups
        FROM {table} GROUP BY 1"""


def oracle_normalized_dedup(table: str = "documents") -> str:
    return f"""
        SELECT {oracle_fingerprint('text')} AS text_hash,
               min(doc_id) AS keep_id, cast(count(*) AS bigint) AS n_dups
        FROM {table} GROUP BY 1"""


def oracle_shingles(col: str = "text", n: int = 3) -> str:
    words = f"string_split(trim(regexp_replace(lower({col}), '\\s+', ' ', 'g')), ' ')"
    return (
        f"list_distinct(CASE WHEN len({words}) >= {n} THEN "
        f"list_transform(range(1, len({words}) - {n - 2}), "
        f"i -> array_to_string({words}[i:i+{n - 1}], ' ')) "
        f"ELSE [array_to_string({words}, ' ')] END)"
    )


def oracle_neardup_pairs(threshold: float, table: str = "documents") -> str:
    """Exact all-pairs shingle-Jaccard — the recall GROUND TRUTH used by
    pytest to measure LSH recall. NOT used as the driver oracle (LSH can
    legitimately miss pairs; see oracle_neardup_pairs_lsh)."""
    sh = oracle_shingles("text")
    jac = (
        "round(len(list_filter(a.sh, x -> list_contains(b.sh, x))) * 1.0e0 / "
        "greatest(len(list_distinct(a.sh || b.sh)), 1), 6)"
    )
    return f"""
        WITH sh AS (SELECT doc_id, {sh} AS sh FROM {table})
        SELECT * FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, {jac} AS jaccard
            FROM sh a, sh b WHERE a.doc_id < b.doc_id
        ) WHERE jaccard >= {threshold}"""


def oracle_lsh_cte(
    table: str = "documents",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> str:
    """CTEs reproducing the EXACT LSH semantics in DuckDB: minhash
    (md5-hex lexicographic min), banded bucket keys, hot-bucket cap,
    candidate pairs, verified Jaccard. The driver oracle mirrors the
    algorithm rather than assuming 100% recall of the exact pair set —
    parity holds for any data and any threshold."""
    sh = oracle_shingles("text")
    mh = oracle_minhash("sh", num_hashes)
    rows = num_hashes // bands
    band_list = ", ".join(
        "'" + str(b) + "#' || " + " || '#' || ".join(
            f"mh[{b * rows + r + 1}]" for r in range(rows)
        )
        for b in range(bands)
    )
    cap = (
        f"keyed AS (SELECT k.* FROM keyed0 k JOIN (SELECT bk FROM keyed0 "
        f"GROUP BY bk HAVING count(*) <= {max_bucket}) c USING (bk)),"
        if max_bucket is not None
        else "keyed AS (SELECT * FROM keyed0),"
    )
    jac = (
        "round(len(list_filter(ma.sh, x -> list_contains(mb.sh, x))) * 1.0e0 / "
        "greatest(len(list_distinct(ma.sh || mb.sh)), 1), 6)"
    )
    return f"""
        m AS (SELECT doc_id, sh, {mh} AS mh
              FROM (SELECT doc_id, {sh} AS sh FROM {table})),
        keyed0 AS (SELECT doc_id AS id, unnest([{band_list}]) AS bk FROM m),
        {cap}
        cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                 FROM keyed a JOIN keyed b ON a.bk = b.bk AND a.id < b.id),
        scored AS (SELECT c.id_a, c.id_b, {jac} AS jaccard
                   FROM cand c
                   JOIN m ma ON ma.doc_id = c.id_a
                   JOIN m mb ON mb.doc_id = c.id_b)"""


def oracle_neardup_pairs_lsh(
    threshold: float,
    table: str = "documents",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> str:
    return (
        f"WITH {oracle_lsh_cte(table, num_hashes, bands, max_bucket)} "
        f"SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= {threshold}"
    )


# ------------------------------------------------------ winnowing oracle

def oracle_winnow_cte(
    table: str = "documents", k: int = WINNOW_K, w: int = WINNOW_W
) -> str:
    """Staged CTEs mirroring winnow_fingerprints (DuckDB list slicing
    is 1-based inclusive on both ends: g[j:j+w-1] == Spark slice(g,j,w));
    ends with `fps(doc_id, fp)`. Karp-Rabin gram hash: identical
    integer recurrence as _winnow_grams (ascii(), mod 2^32)."""
    norm = "coalesce(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '')"
    pows = _kr_pows(k)
    gh = (
        "("
        + " + ".join(f"cs[i+{j}] * {pows[j]}" for j in range(k))
        + f") % {KR_MOD}"
    )
    whole = f"list_reduce(cs, (a, b) -> (a * {KR_BASE} + b) % {KR_MOD})"
    return f"""
        nrmd AS (SELECT doc_id, {norm} AS nrm FROM {table}),
        coded AS (SELECT doc_id,
                  list_transform(string_split(nrm, ''),
                                 c -> ascii(c)::BIGINT) AS cs
                  FROM nrmd),
        gramd AS (SELECT doc_id,
                 CASE WHEN len(cs) >= {k}
                      THEN list_transform(range(1, len(cs) - {k - 2}),
                                          i -> {gh})
                      ELSE [{whole}] END AS g
                 FROM coded),
        fps AS (SELECT doc_id, list_distinct(
                    CASE WHEN len(g) >= {w}
                         THEN list_transform(range(1, len(g) - {w - 2}),
                                             j -> list_min(g[j:j+{w - 1}]))
                         ELSE [list_min(g)] END) AS fp
                FROM gramd)"""


def oracle_winnow_stats(table: str = "documents") -> str:
    """Per-doc fingerprint count + order-insensitive set digest."""
    return f"""
        WITH {oracle_winnow_cte(table)}
        SELECT doc_id, cast(len(fp) AS int) AS n_fp,
               md5(array_to_string(list_transform(list_sort(fp),
                                                  x -> x::VARCHAR), ',')) AS fp_digest
        FROM fps"""


def oracle_neardup_winnow(
    min_shared: int,
    table: str = "documents",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    min_cand_shared: int = 4,
) -> str:
    min_cand_shared = min(min_cand_shared, min_shared)
    cap = (
        f"QUALIFY count(*) OVER (PARTITION BY h) <= {max_bucket}"
        if max_bucket is not None
        else ""
    )
    return f"""
        WITH {oracle_winnow_cte(table)},
        ex0 AS (SELECT doc_id AS id, unnest(fp) AS h FROM fps),
        ex AS (SELECT id, h FROM ex0 {cap}),
        cand AS (SELECT a.id AS id_a, b.id AS id_b
                 FROM ex a JOIN ex b ON a.h = b.h AND a.id < b.id
                 GROUP BY 1, 2 HAVING count(*) >= {min_cand_shared})
        SELECT c.id_a, c.id_b,
               cast(len(list_filter(fa.fp, x -> list_contains(fb.fp, x)))
                    AS bigint) AS n_shared
        FROM cand c
        JOIN fps fa ON fa.doc_id = c.id_a
        JOIN fps fb ON fb.doc_id = c.id_b
        WHERE len(list_filter(fa.fp, x -> list_contains(fb.fp, x))) >= {min_shared}"""


# ------------------------------------------------------- simhash oracle

def oracle_simhash_cte(table: str = "documents", id_col: str = "doc_id") -> str:
    """CTEs reproducing the simhash fingerprint halves bit-exactly in
    DuckDB: unnest tokens, md5-hex halves → 32-bit ints, per-bit sign
    sums over a range(32) cross join, sign → fingerprint."""
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
        tok AS (SELECT {id_col} AS id, unnest(string_split({norm}, ' ')) AS t
                FROM {table}),
        th AS (SELECT id, {_oracle_md5_32('t')} AS h0,
                          {_oracle_md5_32('t', 8)} AS h1
               FROM tok),
        bits AS (SELECT id, r.b,
                        sum(CASE WHEN (h0 >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS s0,
                        sum(CASE WHEN (h1 >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS s1
                 FROM th CROSS JOIN range(32) r(b) GROUP BY 1, 2),
        fp AS (SELECT id,
                      cast(sum(CASE WHEN s0 > 0 THEN (1::BIGINT << b) ELSE 0 END)
                           AS bigint) AS fp0,
                      cast(sum(CASE WHEN s1 > 0 THEN (1::BIGINT << b) ELSE 0 END)
                           AS bigint) AS fp1
               FROM bits GROUP BY 1)"""


def _oracle_chunk_val(lo: int, hi: int) -> str:
    if hi <= 32:
        return f"(fp0 >> {lo}) & {(1 << (hi - lo)) - 1}"
    if lo >= 32:
        return f"(fp1 >> {lo - 32}) & {(1 << (hi - lo)) - 1}"
    return (
        f"((fp0 >> {lo}) & {(1 << (32 - lo)) - 1}) + "
        f"((fp1 & {(1 << (hi - 32)) - 1}) << {32 - lo})"
    )


def oracle_simhash_keys(max_hamming: int, q: int = 2) -> str:
    """SQL list literal mirroring simhash_key_exprs (packed-long keys,
    all regimes — identical integer arithmetic in DuckDB)."""
    from itertools import combinations

    bounds = simhash_chunk_bounds(max_hamming, q)
    vals = [
        _oracle_chunk_val(bounds[c], bounds[c + 1]) for c in range(len(bounds) - 1)
    ]
    if not (_pair_key_regime(max_hamming) and q >= 2):
        keys = [f"({c * (1 << 32)} + ({v}))" for c, v in enumerate(vals)]
    elif q == 2:
        keys = []
        idx = 0
        for c1 in range(len(vals)):
            for c2 in range(c1 + 1, len(vals)):
                keys.append(
                    f"({idx << 32} + (({vals[c1]}) << 16) + ({vals[c2]}))"
                )
                idx += 1
    else:
        _bounds, w, combos = _q_key_layout(max_hamming, q)
        keys = []
        for idx, combo in enumerate(combos):
            parts = [str(idx << (q * w))] + [
                f"(({vals[c]}) << {(q - 1 - j) * w})" for j, c in enumerate(combo)
            ]
            keys.append("(" + " + ".join(parts) + ")")
    return ", ".join(keys)


def oracle_simhash_pairs(
    max_hamming: int,
    table: str = "documents",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    q: int = 2,
) -> str:
    """DuckDB mirror of simhash_neardup_pairs (same keying + cap)."""
    # cap in its own CTE: QUALIFY over the post-unnest rows needs the
    # unnest to have already expanded
    cap = (
        f"QUALIFY count(*) OVER (PARTITION BY chunk) <= {max_bucket}"
        if max_bucket is not None
        else ""
    )
    ham = "bit_count(xor(fa0, fb0)) + bit_count(xor(fa1, fb1))"
    return f"""
        WITH {oracle_simhash_cte(table)},
        keyed0 AS (SELECT id, fp0, fp1,
                          unnest([{oracle_simhash_keys(max_hamming, q)}]) AS chunk
                   FROM fp),
        keyed AS (SELECT * FROM keyed0 {cap}),
        cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                        a.fp0 AS fa0, a.fp1 AS fa1, b.fp0 AS fb0, b.fp1 AS fb1
                 FROM keyed a JOIN keyed b ON a.chunk = b.chunk AND a.id < b.id)
        SELECT id_a, id_b, cast({ham} AS int) AS hamming
        FROM cand WHERE {ham} <= {max_hamming}"""


def oracle_minhash(shingles_expr: str, num_hashes: int = DEFAULT_NUM_HASHES) -> str:
    mins = ", ".join(
        f"list_min(list_transform({shingles_expr}, s -> md5('{i}|' || s)))"
        for i in range(num_hashes)
    )
    return f"[{mins}]"


# ----------------------------------------------------- incremental dedup
#
# The production ingestion shape: a corpus of N documents already
# cleaned, a daily increment of n << N new documents to admit. The
# corpus contributes only its persisted DEDUP STATE (minhash_store) —
# its text is never rescanned; at scale the store is an Iceberg table
# bucketed by band key, so the candidate join is co-located.

MINHASH_EST_MIN_EQUAL = 8  # of DEFAULT_NUM_HASHES=16 → est. Jaccard ≥ 0.5


def minhash_store(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc dedup state: normalized fingerprint, minhash signature,
    band keys. This is what a production run PERSISTS so later
    increments dedup against hashes instead of text."""
    m = with_minhash(df, text_col, num_hashes, shingle_n)
    return m.select(
        F.col(id_col).alias("id"),
        F.md5(normalize_text(F.col(text_col))).alias("fp"),
        F.col("minhash"),
        band_keys(F.col("minhash"), bands, num_hashes).alias("bks"),
    )


def store_frames(
    store: DataFrame, persist_handle: list | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """docs(id, fp, minhash), keys(id, bk), counts(bk, n) of a
    ``minhash_store`` frame, all reading ONE cache filled eagerly: the
    hashing runs once, before any consumer exists, so no consumer races
    a lazy cache fill or re-hashes the corpus text (a lost block is
    recomputed from lineage). Pass ``persist_handle=[]`` to free the
    cache deterministically."""
    m = store.persist()
    if persist_handle is not None:
        persist_handle.append(m)
    m.count()
    keys = m.select("id", F.explode("bks").alias("bk"))
    return (
        m.select("id", "fp", "minhash"),
        keys,
        keys.groupBy("bk").agg(F.count(F.lit(1)).alias("n")),
    )


def _sig_equal_components(a: Column, b: Column) -> Column:
    """# of positions where two minhash signatures agree — the standard
    Jaccard estimator (E[equal/num_hashes] = J) used when original
    shingles are cold storage."""
    return F.size(
        F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda z: z)
    )


def oracle_incremental_dedup(
    table: str = "documents",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    min_equal: int = MINHASH_EST_MIN_EQUAL,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> str:
    """DuckDB mirror of incremental_dedup_keep_ids over the canonical
    corpus/new split (doc_id % 5: 80% corpus, 20% increment) — exact
    store anti-join, capped combined-bucket band candidates, signature
    component-agreement verification, pairwise-deterministic drops."""
    sh = oracle_shingles("text")
    mh = oracle_minhash("sh", num_hashes)
    fp = oracle_fingerprint("text")
    rows = num_hashes // bands
    band_list = ", ".join(
        "'" + str(b) + "#' || " + " || '#' || ".join(
            f"mh[{b * rows + r + 1}]" for r in range(rows)
        )
        for b in range(bands)
    )
    cap = (
        f"QUALIFY count(*) OVER (PARTITION BY bk) <= {max_bucket}"
        if max_bucket is not None
        else ""
    )
    eq = (
        f"len(list_filter(range(1, {num_hashes + 1}), "
        f"i -> sn.mh[i] = so.mh[i]))"
    )
    return f"""
        WITH cs AS (SELECT doc_id AS id, {fp} AS fp, {mh} AS mh
                    FROM (SELECT doc_id, text, {sh} AS sh FROM {table}
                          WHERE doc_id % 5 <> 0)),
        ns AS (SELECT doc_id AS id, {fp} AS fp, {mh} AS mh
               FROM (SELECT doc_id, text, {sh} AS sh FROM {table}
                     WHERE doc_id % 5 = 0)),
        surv AS (SELECT * FROM ns
                 WHERE NOT EXISTS (SELECT 1 FROM cs WHERE cs.fp = ns.fp)
                 QUALIFY row_number() OVER (PARTITION BY fp ORDER BY id) = 1),
        keyed0 AS (
            SELECT id, unnest([{band_list}]) AS bk, 'new' AS src FROM surv
            UNION ALL
            SELECT id, unnest([{band_list}]) AS bk, 'corpus' AS src FROM cs),
        keyed AS (SELECT * FROM keyed0 {cap}),
        cand AS (SELECT DISTINCT n.id AS id_new, o.id AS id_other, o.src
                 FROM keyed n JOIN keyed o ON n.bk = o.bk
                 WHERE n.src = 'new'
                   AND (o.src = 'corpus' OR (o.src = 'new' AND o.id < n.id))),
        verified AS (
            SELECT DISTINCT c.id_new FROM cand c
            JOIN surv sn ON sn.id = c.id_new
            JOIN (SELECT id, mh, 'corpus' AS src FROM cs
                  UNION ALL SELECT id, mh, 'new' AS src FROM surv) so
              ON so.id = c.id_other AND so.src = c.src
            WHERE {eq} >= {min_equal})
        SELECT s.id AS doc_id FROM surv s
        WHERE s.id NOT IN (SELECT id_new FROM verified)"""


# ---------------------------------------------- disk-backed dedup store

def write_minhash_store(
    spark,
    df: DataFrame,
    name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    n_buckets: int = 16,
) -> None:
    """Persist the dedup state as BUCKETED tables — the production
    layout of the three relations ``store_frames`` holds in executor
    memory (at 10⁹-doc corpora an in-memory store is the first thing
    to fall over). On a real deployment these are Iceberg
    tables with bucket partition transforms; the session-catalog
    saveAsTable is the sandbox analog (same rule as
    sources/tables.write_bucketed).

    Three tables:
    - ``{name}_docs``   (id, fp, minhash)  bucketed by id  — exact-dup
      anti-joins and signature lookups co-locate on id;
    - ``{name}_keys``   (bk, id)           bucketed by bk  — the
      candidate join's corpus side never shuffles;
    - ``{name}_counts`` (bk, n)            tiny occupancy table — the
      hot-bucket cap over the COMBINED corpus+increment population
      without re-windowing the corpus (new counts + stored counts).
    """
    from opentelemetry_collector_spark.sources.tables import write_bucketed

    # a previous SESSION's in-memory catalog forgot these managed
    # tables but their warehouse directories persist — saveAsTable then
    # fails LOCATION_ALREADY_EXISTS. Drop both the catalog entry and
    # any stale location before writing (idempotent re-ingest).
    import shutil
    from urllib.parse import unquote, urlparse

    # unquote: the file: URI percent-encodes spaces etc. — an encoded
    # path would make the rmtree a silent no-op (r5 review finding)
    warehouse = unquote(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path)
    for suffix in ("_docs", "_keys", "_counts"):
        t = f"{name}{suffix}"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t.lower()}", ignore_errors=True)

    handle: list = []
    docs, keys, counts = store_frames(
        minhash_store(df, id_col, text_col, num_hashes, bands, shingle_n), handle
    )
    try:
        write_bucketed(
            docs,
            f"{name}_docs",
            bucket_cols=("id",),
            sort_cols=("id",),
            n_buckets=n_buckets,
        )
        write_bucketed(
            keys,
            f"{name}_keys",
            bucket_cols=("bk",),
            sort_cols=("bk", "id"),
            n_buckets=n_buckets,
        )
        counts.write.mode("overwrite").format("parquet").saveAsTable(f"{name}_counts")
    finally:
        for frame in handle:
            frame.unpersist()


def read_minhash_store(spark, name: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The (docs, keys, counts) relations of a write_minhash_store
    layout, as ``incremental_dedup_keep_ids`` takes them."""
    return tuple(spark.table(f"{name}{s}") for s in ("_docs", "_keys", "_counts"))


def incremental_dedup_keep_ids(
    new_docs: DataFrame,
    docs: DataFrame,
    keys: DataFrame,
    counts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    min_equal: int = MINHASH_EST_MIN_EQUAL,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    persist_handle: list | None = None,
    candidates_only: bool = False,
) -> DataFrame:
    """Kept NEW doc ids after dedup against (a) the corpus store —
    ``read_minhash_store`` (bucketed tables) or ``store_frames`` (in
    memory) — and (b) the new batch itself.

    1. exact: a new doc whose normalized fingerprint exists in the
       corpus is dropped (anti-join on the ``fp`` column of docs);
       within the batch the smallest id per fingerprint survives;
    2. near-dup: band-key candidates against corpus keys + batch keys,
       verified by signature agreement ≥ min_equal components — new
       ids matching any corpus doc, or a smaller surviving new id, are
       dropped. Deterministic and replay-stable.

    The hot-bucket cap counts the COMBINED corpus+increment population:
    new-side bucket counts plus the stored ``counts`` occupancy, then
    the tiny over-cap key set is broadcast — the corpus keys keep their
    layout, and on the bucketed tables the candidate and signature
    joins are Exchange-free on the corpus side (plan pinned in
    tests/test_dedup_store.py). Only the INCREMENT is persisted.
    ``candidates_only=True`` returns the pre-verification candidate
    frame (id_new, id_other, src).
    """
    from pyspark.sql import Window

    ns = minhash_store(new_docs, id_col, text_col, num_hashes, bands, shingle_n).persist()
    if persist_handle is not None:
        persist_handle.append(ns)
    w = Window.partitionBy("fp").orderBy("id")
    survivors = (
        ns.join(docs.select("fp"), "fp", "left_anti")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    ).persist()
    if persist_handle is not None:
        persist_handle.append(survivors)
    nb = survivors.select(F.col("id"), F.explode("bks").alias("bk"))
    if max_bucket is not None:
        over = (
            nb.groupBy("bk")
            .agg(F.count(F.lit(1)).alias("n_new"))
            .join(counts, "bk", "left")
            .filter(F.coalesce(F.col("n"), F.lit(0)) + F.col("n_new") > max_bucket)
            .select("bk")
        )
        # over-cap buckets are ⊆ buckets touched by the increment (a
        # corpus-only bucket yields no candidates), so the set is tiny
        nb = nb.join(F.broadcast(over), "bk", "left_anti")
        keys = keys.join(F.broadcast(over), "bk", "left_anti")
    new_side = nb.select("bk", F.col("id").alias("id_new"))
    cand_c = (
        new_side.join(keys.select("bk", F.col("id").alias("id_other")), "bk")
        .select("id_new", "id_other")
        .withColumn("src", F.lit("corpus"))
    )
    cand_n = (
        new_side.join(nb.select("bk", F.col("id").alias("id_other")), "bk")
        .filter(F.col("id_other") < F.col("id_new"))
        .select("id_new", "id_other")
        .withColumn("src", F.lit("new"))
    )
    cand = cand_c.unionByName(cand_n).dropDuplicates(["id_new", "id_other", "src"])
    if candidates_only:
        return cand
    sig_new = survivors.select(F.col("id").alias("id_new"), F.col("minhash").alias("mh_new"))
    sig_corpus = docs.select(F.col("id").alias("id_other"), F.col("minhash").alias("mh_other"))
    sig_newb = survivors.select(F.col("id").alias("id_other"), F.col("minhash").alias("mh_other"))
    verified = (
        cand.filter(F.col("src") == "corpus").join(sig_corpus, "id_other")
        .unionByName(cand.filter(F.col("src") == "new").join(sig_newb, "id_other"))
        .join(sig_new, "id_new")
        .filter(
            _sig_equal_components(F.col("mh_new"), F.col("mh_other")) >= min_equal
        )
    )
    drops = verified.select(F.col("id_new").alias("id")).distinct()
    return survivors.join(drops, "id", "left_anti").select(
        F.col("id").alias(id_col)
    )


# ------------------------------------------------- near-dup components

def _free_local_checkpoint(df: DataFrame, blocking: bool = False) -> None:
    """Unpersist the RDD behind an eager ``.localCheckpoint()`` frame.
    ``DataFrame.unpersist()`` is a silent no-op on a checkpointed plan
    (the blocks belong to an internal RDD, not the CacheManager); the
    analyzed plan of such a frame is a LogicalRDD wrapping that RDD,
    which CAN be unpersisted directly. Best-effort: if the internal
    plan shape ever changes, fall back to the ContextCleaner (the
    pre-r5 behavior) rather than failing the query over cleanup."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(blocking)
    except Exception:
        return


class LocalCheckpointHandle:
    """persist_handle entry for a localCheckpoint-backed frame, so the
    callers' ``for frame in handle: frame.unpersist()`` convention
    frees checkpoint blocks deterministically instead of waiting on
    JVM GC + ContextCleaner. After unpersist() the frame is UNUSABLE
    (blocks gone, lineage truncated — reuse fails loudly), which is
    the handle contract: unpersist only when done with the result."""

    def __init__(self, df: DataFrame):
        self._df = df

    def unpersist(self, blocking: bool = False) -> None:
        _free_local_checkpoint(self._df, blocking)


def neardup_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 30,
    persist_handle: list | None = None,
    stats_handle: dict | None = None,
) -> DataFrame:
    """Connected components over the near-dup pair graph: every doc
    gets component_id = min doc id reachable through near-dup edges.

    The pairwise keep rules (docs_clean's drop-larger-id) approximate
    this; the componentwise representative is what production dedup
    actually wants — A~B, B~C must collapse A,B,C to ONE survivor even
    when (A,C) was never emitted as a pair.

    Two-phase star algorithm (alternating large-star / small-star;
    Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014): O(log n) rounds regardless of component DIAMETER —
    a 64-node chain converges in ~6 rounds. Per round, over the
    current edge set E (kept oriented big→small after the first
    half-step):

      large-star  ∀u: m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
      small-star  ∀u over edges (u, v<u): m = min(Γ<(u)); emit (u, m)
                  and (v, m) for the other small neighbors v ≠ m

    Both halves are edge-list-sized window+distinct — no global
    structure, shuffle keyed on node id. The fixed point is a star
    forest: every non-min node holds exactly the edge (node,
    component-min). Convergence is checked exactly (edge-set equality
    via count + one-sided subtract), one bounded action pair per round;
    the round count lands in ``stats_handle["rounds"]``. A graph that
    has not converged after ``max_iters`` rounds raises — fragmented
    labels would silently split true components.

    Each round ends in an eager localCheckpoint: `small` references
    `with_min` twice and the symmetric view the edge set twice, so the
    un-truncated logical plan grows ~4× per round — exponential — and
    the driver OOMs building plan trees within a few rounds. Lineage
    truncation per round is mandatory for ANY iterative edge-rewrite
    on Spark; intermediate blocks are freed as each round supersedes
    them. On a real cluster set a reliable checkpoint dir if executor
    loss during the handful of rounds is a concern.
    """
    from pyspark.sql import Window

    ids = df.select(F.col(id_col).alias("id")).distinct()
    # orient big→small up front (drop self-edges defensively): both
    # half-steps below preserve the u > v orientation
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    # per-node minima as windows, not groupBy + join back: one shuffle
    # by u per half-step instead of two
    by_u = Window.partitionBy("u")
    converged = False
    rounds = 0
    small = None
    try:
        # carried across rounds: last round's small.count() IS this
        # round's edge count — recounting the checkpointed edge set
        # would add one wasted job per round to the O(log n) loop
        edges_count = edges.count()
        for rounds in range(1, max_iters + 1):
            # ---- large-star over the symmetric view
            sym = edges.unionByName(
                edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            large = (
                sym.withColumn("m", F.least(F.min("v").over(by_u), F.col("u")))
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
            # ---- small-star over big→small edges (large's output
            # already satisfies u > v: emitted (v, m) has m ≤ u < v)
            with_min = large.withColumn("m", F.min("v").over(by_u))
            small = (
                with_min.select("u", F.col("m").alias("v"))
                .unionByName(
                    with_min.filter(F.col("v") != F.col("m")).select(
                        F.col("v").alias("u"), F.col("m").alias("v")
                    )
                )
                .filter(F.col("u") != F.col("v"))
                .distinct()
                .localCheckpoint()
            )
            small_count = small.count()
            if small_count == edges_count and small.subtract(edges).count() == 0:
                converged = True
            # superseded edge set's checkpoint blocks: freed
            # deterministically (small is eager-materialized and the
            # convergence check above was the last read of the old edges)
            _free_local_checkpoint(edges)
            edges_count = small_count
            edges = small
            if converged:
                break
        if not converged:
            raise RuntimeError(
                f"neardup_components did not converge in {max_iters} "
                "rounds (expected O(log n) — investigate the pair graph)"
            )
        if stats_handle is not None:
            stats_handle["rounds"] = rounds
        # star forest: non-min nodes carry exactly (id, component-min);
        # min nodes and isolated docs label themselves. Checkpointed so
        # the labels are a self-contained stage input: they outlive the
        # final edge checkpoint (freed here) and any cache on `df`
        # (component_labels callers reuse them across queries)
        labels = (
            ids.join(edges.withColumnRenamed("u", "id"), "id", "left")
            .groupBy("id")
            .agg(F.min("v").alias("mn"))
            .select("id", F.coalesce("mn", "id").alias("comp"))
            .localCheckpoint()
        )
        _free_local_checkpoint(edges)
        if persist_handle is not None:
            # DataFrame.unpersist() is a no-op on a checkpoint — hand
            # the caller a handle that frees the checkpoint RDD itself
            persist_handle.append(LocalCheckpointHandle(labels))
        # else: the label blocks are reclaimed by the ContextCleaner
        # when the frame is GC'd (the lsh_candidate_pairs convention)
        return labels.select(
            F.col("id").alias(id_col), F.col("comp").alias("component_id")
        )
    except BaseException:
        # error path (non-convergence, mid-round failure, post-loop
        # label build): the live edge checkpoints would otherwise stay
        # pinned for the session — clearCache() cannot free checkpoint
        # blocks, and bench-style continue-on-error callers never see a
        # handle to clean (freeing an aliased frame twice is a no-op)
        for f in (edges, small):
            if f is not None:
                _free_local_checkpoint(f)
        raise


def oracle_neardup_components(pairs_sql: str, table: str = "documents") -> str:
    """DuckDB mirror: min reachable id via a recursive CTE over the
    symmetric edge list (UNION dedups, so the recursion terminates at
    the transitive closure)."""
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        nodes AS (SELECT doc_id AS id FROM {table}),
        reach(id, comp) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v = r.id),
        out AS (SELECT id, min(comp) AS component_id FROM reach GROUP BY id)
        SELECT id AS doc_id, component_id FROM out"""
