"""Dedup family: exact, normalized, minhash-LSH, simhash."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators import dedup

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
    (2, "The  quick  brown fox jumps over the lazy dog near the river bank"),  # normalized dup
    (3, "the quick brown fox jumps over the lazy cat near the river bank"),  # near dup (1 word)
    (4, "completely different text about spark adaptive query execution engines"),
    (5, "another unrelated document mentioning parquet files and shuffles"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_dedup(docs):
    keep = dedup.exact_dedup_keepers(docs)
    assert keep.count() == 5  # 0/1 collapse
    assert keep.agg(F.sum("n_dups")).collect()[0][0] == 6
    dup = keep.filter(F.col("n_dups") == 2).collect()[0]
    assert dup["keep_id"] == 0


def test_normalized_dedup(docs):
    keep = dedup.normalized_dedup_keepers(docs)
    assert keep.count() == 4  # 0/1/2 collapse
    assert keep.filter(F.col("n_dups") == 3).collect()[0]["keep_id"] == 0


def test_minhash_finds_near_dups(docs):
    pairs = dedup.neardup_pairs_minhash(docs, threshold=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in found and (0, 2) in found and (1, 2) in found
    assert (0, 3) in found  # one-word-off near dup
    assert not any(4 in p or 5 in p for p in found)  # unrelated docs stay out


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    """LSH candidates must recover ≥90% of true pairs at the threshold
    (16 hashes / 4 bands ⇒ s-curve threshold ≈ 0.7^(1/4)≈0.5^... —
    verified empirically on the documents table)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    truth = {
        (r["id_a"], r["id_b"])
        for r in dedup.neardup_pairs_bruteforce(docs, threshold=0.7).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.neardup_pairs_minhash(docs, threshold=0.7).collect()
    }
    assert lsh.issubset(truth)  # verification step removes false positives
    if truth:
        assert len(lsh & truth) / len(truth) >= 0.9


def test_hot_bucket_cap_bounds_candidates(spark):
    """k identical boilerplate docs put k members in every band bucket;
    with a cap below k, candidate generation drops those buckets
    entirely instead of emitting k² pairs (exact dedup owns them)."""
    boiler = [(i, "identical boilerplate text repeated everywhere forever") for i in range(50)]
    uniq = [(100 + i, f"unique document number {i} about topic {i * 7}") for i in range(5)]
    df = spark.createDataFrame(boiler + uniq, "doc_id long, text string")
    capped = dedup.lsh_candidate_pairs(df, max_bucket=10)
    assert capped.count() == 0  # hot buckets dropped, uniques don't collide
    uncapped = dedup.lsh_candidate_pairs(df, max_bucket=None)
    assert uncapped.count() == 50 * 49 // 2  # the k² blowup the cap prevents
    stats = dedup.hot_bucket_stats(df, max_bucket=10).collect()
    assert stats and all(r["n_members"] == 50 for r in stats)


def test_simhash_near_dups(docs):
    pairs = dedup.simhash_neardup_pairs(docs, max_hamming=12).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in found  # identical text → hamming 0
    h01 = [r["hamming"] for r in pairs if (r["id_a"], r["id_b"]) == (0, 1)][0]
    assert h01 == 0
    assert not any((a in (4, 5)) != (b in (4, 5)) for a, b in found if (a, b) != (0, 1))


def test_simhash_deterministic(docs):
    a = {
        r["doc_id"]: (r["simhash0"], r["simhash1"])
        for r in dedup.with_simhash(docs).collect()
    }
    b = {
        r["doc_id"]: (r["simhash0"], r["simhash1"])
        for r in dedup.with_simhash(docs.repartition(3)).collect()
    }
    assert a == b
    assert a[0] == a[1]  # identical text → identical fingerprint
    # halves are unsigned 32-bit values
    assert all(0 <= v < 2**32 for pair in a.values() for v in pair)


def test_simhash_matches_python_reference(docs):
    """Pin the Catalyst fingerprint against an independent pure-Python
    simhash of the same definition (md5-hex halves, sign-of-sums)."""
    import hashlib

    def ref(text: str) -> tuple[int, int]:
        toks = " ".join(text.lower().split()).split(" ")
        out = []
        for off in (0, 8):
            acc = [0] * 32
            for t in toks:
                h = int(hashlib.md5(t.encode()).hexdigest()[off : off + 8], 16)
                for b in range(32):
                    acc[b] += 1 if (h >> b) & 1 else -1
            out.append(sum(1 << b for b in range(32) if acc[b] > 0))
        return out[0], out[1]

    got = {
        r["doc_id"]: (r["simhash0"], r["simhash1"])
        for r in dedup.with_simhash(docs).collect()
    }
    for doc_id, text in DOCS:
        assert got[doc_id] == ref(text), f"doc {doc_id}"


def test_simhash_pair_keys_recall_vs_bruteforce(spark, sf_dir):
    """Pair-of-chunks banding (max_hamming ≥ 4) must find EXACTLY the
    brute-force hamming pairs when the cap is off: with t+2 chunks, ≤ t
    flips leave ≥ 2 chunks intact, so some chunk PAIR matches — the
    pigeonhole guarantee, not a probabilistic recall bound."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(150)
    fps = dedup.with_simhash(docs).select("doc_id", "simhash0", "simhash1")
    rows = {r["doc_id"]: (r["simhash0"], r["simhash1"]) for r in fps.collect()}
    truth = set()
    for a in rows:
        for b in rows:
            if a < b:
                h = bin(rows[a][0] ^ rows[b][0]).count("1") + bin(
                    rows[a][1] ^ rows[b][1]
                ).count("1")
                if h <= 8:
                    truth.add((a, b))
    banded = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_neardup_pairs(
            docs, max_hamming=8, max_bucket=None
        ).collect()
    }
    assert banded == truth


def test_simhash_key_cardinality_regimes():
    """t=8 must use pair keys (C(10,2)=45 of ~13 bits), not 9 thin
    ~7-bit chunks — the r2 scale defect."""
    assert len(dedup.simhash_chunk_bounds(3)) - 1 == 4  # single, 16-bit
    bounds8 = dedup.simhash_chunk_bounds(8)
    assert len(bounds8) - 1 == 10  # pair regime: t+2 chunks
    from pyspark.sql import functions as F  # noqa: F811

    keys = dedup.simhash_key_exprs(F.lit(0), F.lit(0), 8)
    assert len(keys) == 45


def test_simhash_hot_bucket_cap_bounds_candidates(spark):
    """Boilerplate fingerprints (identical docs) collide in EVERY key;
    with a cap below the clique size they generate no candidates —
    exact dedup owns them (same contract as the minhash cap)."""
    boiler = [(i, "identical boilerplate text repeated everywhere forever") for i in range(40)]
    uniq = [(100 + i, f"unique document number {i} about topic {i * 7}") for i in range(5)]
    df = spark.createDataFrame(boiler + uniq, "doc_id long, text string")
    capped = dedup.simhash_neardup_pairs(df, max_hamming=8, max_bucket=10)
    assert all(
        not (r["id_a"] < 100 and r["id_b"] < 100) for r in capped.collect()
    ), "boilerplate clique must be dropped by the cap"
    uncapped = dedup.simhash_neardup_pairs(df, max_hamming=8, max_bucket=None)
    n_boiler = uncapped.filter((F.col("id_a") < 100) & (F.col("id_b") < 100)).count()
    assert n_boiler == 40 * 39 // 2  # the k² blowup the cap prevents


def test_winnow_matches_python_reference(spark):
    """Pin the Catalyst Karp-Rabin fingerprints against an independent
    pure-Python implementation of the same definition."""
    def ref_fps(text: str, k=dedup.WINNOW_K, w=dedup.WINNOW_W) -> set[int]:
        norm = " ".join((text or "").lower().split())
        codes = [ord(c) for c in norm] or [0]
        if len(codes) >= k:
            grams = [
                sum(codes[i + j] * pow(dedup.KR_BASE, k - 1 - j, dedup.KR_MOD)
                    for j in range(k)) % dedup.KR_MOD
                for i in range(len(codes) - k + 1)
            ]
        else:
            acc = 0
            for c in codes:
                acc = (acc * dedup.KR_BASE + c) % dedup.KR_MOD
            grams = [acc]
        if len(grams) >= w:
            mins = [min(grams[j : j + w]) for j in range(len(grams) - w + 1)]
        else:
            mins = [min(grams)]
        return set(mins)

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "Ünïcode çhars should also agrée between engines"),
        (2, "tiny"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: set(r["winnow_fp"]) for r in dedup.with_winnow(df).collect()}
    for doc_id, text in rows:
        assert got[doc_id] == ref_fps(text), f"doc {doc_id}"


def test_winnow_guarantee(spark):
    """Winnowing guarantee (Schleimer et al.): two texts sharing a
    substring of length >= k+w-1 share at least one fingerprint; an
    identical doc shares ALL fingerprints."""
    k, w = dedup.WINNOW_K, dedup.WINNOW_W
    shared = "x" * 0 + "the quick brown fox jumps over the lazy dog"  # len >= k+w-1
    rows = [
        (0, f"prefix one {shared} suffix alpha"),
        (1, f"completely different start {shared} and another ending"),
        (2, "no overlap here at all zzz qqq www eee rrr ttt yyy"),
        (3, f"prefix one {shared} suffix alpha"),  # exact dup of 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r["doc_id"]: set(r["winnow_fp"]) for r in dedup.with_winnow(df).collect()}
    assert fps[0] & fps[1], "shared substring must share a fingerprint"
    assert fps[0] == fps[3], "identical text -> identical fingerprint set"
    assert not (fps[2] & fps[0]) or len(fps[2] & fps[0]) < len(fps[0] & fps[1])
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in dedup.neardup_pairs_winnow(df, min_shared=1).collect()
    }
    assert (0, 3) in pairs and pairs[(0, 3)] == len(fps[0])
    assert (0, 1) in pairs


def test_winnow_deterministic_and_bounded(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    a = {r["doc_id"]: sorted(r["winnow_fp"]) for r in dedup.with_winnow(docs).collect()}
    b = {
        r["doc_id"]: sorted(r["winnow_fp"])
        for r in dedup.with_winnow(docs.repartition(7)).collect()
    }
    assert a == b
    # density: winnowing must actually PRUNE — the expected density is
    # 2/(w+1) of gram positions; allow 2× slack but fail if a
    # regression stops the window minima from deduplicating
    texts = {r["doc_id"]: (r["text"] or "") for r in docs.collect()}
    k, w = dedup.WINNOW_K, dedup.WINNOW_W
    for doc_id, fp in a.items():
        n_grams = max(1, len(" ".join(texts[doc_id].split())) - k + 1)
        assert 1 <= len(fp) <= max(2, int(n_grams * 2 / (w + 1) * 2)), doc_id


def test_winnow_cap_prunes_candidates_not_scores(spark):
    """The hot-fingerprint cap bounds CANDIDATE generation only —
    surviving pairs are scored on their full fingerprint sets, so a
    boilerplate fingerprint cannot deflate n_shared below min_shared."""
    # 30 docs all containing the same boilerplate sentence (its
    # fingerprints exceed the cap), plus two near-dups that also share
    # distinctive content (their distinctive fingerprints survive)
    boiler = "common boilerplate sentence shared by every single document here"
    distinct = "a very distinctive passage about adaptive query execution plans"
    rows = [(i, f"{boiler} filler {i} words {i * 3}") for i in range(30)]
    rows += [(100, f"{distinct} {boiler}"), (101, f"{distinct} {boiler}")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r["doc_id"]: set(r["winnow_fp"]) for r in dedup.with_winnow(df).collect()}
    full_shared = len(fps[100] & fps[101])
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in dedup.neardup_pairs_winnow(df, min_shared=1, max_bucket=20).collect()
    }
    # candidates came from the uncapped distinctive fingerprints, but
    # the score is the FULL intersection (boilerplate included)
    assert pairs[(100, 101)] == full_shared


def test_incremental_dedup_semantics(spark):
    """Daily-increment dedup against the persisted corpus STATE: exact
    corpus dup dropped, within-batch dup keeps min id, near-dup of a
    corpus doc dropped via signature agreement, novel doc kept."""
    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog near the river bank"),
            (1, "completely different text about spark adaptive query execution engines"),
        ],
        "doc_id long, text string",
    )
    newb = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact corpus dup
            (101, "a genuinely novel document about streaming watermarks and state"),
            (102, "a genuinely novel document about streaming watermarks and state"),  # batch dup of 101
            (103, "the quick brown fox jumps over the lazy CAT near the river bank"),  # near-dup of corpus 0
        ],
        "doc_id long, text string",
    )
    store = dedup.store_frames(dedup.minhash_store(corpus))
    kept = {r["doc_id"] for r in dedup.incremental_dedup_keep_ids(newb, *store).collect()}
    assert 100 not in kept  # exact corpus dup
    assert 101 in kept and 102 not in kept  # min id survives the batch
    assert 103 not in kept  # near-dup of corpus content, caught by signatures
    assert kept == {101}


def test_incremental_dedup_never_rescans_corpus_text(spark, tmp_path):
    """The store is SELF-SUFFICIENT: a store round-tripped through
    parquet (corpus DataFrame gone entirely, text column never
    written) must give identical results — proof the increment path
    touches persisted hashes only."""
    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i} about topic {i * 3}") for i in range(20)],
        "doc_id long, text string",
    )
    newb = spark.createDataFrame(
        [(100 + i, f"corpus document number {i} about topic {i * 3}") for i in range(5)]
        + [(200, "something else entirely unrelated to anything above")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "store")
    dedup.minhash_store(corpus).write.parquet(path)
    store = dedup.store_frames(spark.read.parquet(path))  # no lineage back to corpus text
    kept = {r["doc_id"] for r in dedup.incremental_dedup_keep_ids(newb, *store).collect()}
    assert kept == {200}


def test_simhash_degenerate_hamming_falls_back_to_single_keys(spark):
    """ADVICE r3: at max_hamming ≥ 63 only one chunk is guaranteed
    intact, so pair keys (which need 2) would silently lose recall —
    the regime must fall back to single-chunk keys; ≥ 64 is meaningless
    and raises."""
    import pytest

    bounds63 = dedup.simhash_chunk_bounds(63)
    assert len(bounds63) - 1 == 64  # one-bit chunks, single-key regime
    keys63 = dedup.simhash_key_exprs(F.lit(0), F.lit(0), 63)
    assert len(keys63) == 64  # t+1 single keys, not C(t+2,2) pairs
    with pytest.raises(ValueError, match="64"):
        dedup.simhash_chunk_bounds(64)
    # the normal pair regime is untouched
    assert len(dedup.simhash_key_exprs(F.lit(0), F.lit(0), 8)) == 45


def test_simhash_q_scaling_rule():
    """simhash_q_for: key cardinality tracks corpus size (the simhash
    analog of ann_bits_for) — q=2 at driver-gate scale (oracle SQL
    unchanged), growing toward q=8 at web scale."""
    assert dedup.simhash_q_for(500, 8) == 2
    assert dedup.simhash_q_for(2000, 8) == 3
    assert dedup.simhash_q_for(5000, 8) == 3
    assert dedup.simhash_q_for(20000, 8) == 4
    assert dedup.simhash_q_for(10**9, 8) == 8
    assert dedup.simhash_q_for(10**6, 3) == 1  # single-key regime


def test_simhash_q3_data_shaped_keys_match_expressions(spark):
    """The posexplode/element_at key path (q ≥ 3, janino 64 KB guard)
    must emit byte-identical (id, chunk) rows to the literal
    key-expression array."""
    df = spark.createDataFrame(
        [(i, f"doc {i} words alpha beta gamma delta-{i % 7}") for i in range(40)],
        "doc_id long, text string",
    )
    sh = dedup.with_simhash(df).select(
        F.col("doc_id").alias("id"), "simhash0", "simhash1"
    )
    keys = dedup.simhash_key_exprs(F.col("simhash0"), F.col("simhash1"), 8, 3)
    expr_rows = sh.select("id", F.explode(F.array(*keys)).alias("chunk"))
    data_rows = dedup._keyed_chunks(sh, 8, 3)
    assert expr_rows.exceptAll(data_rows).count() == 0
    assert data_rows.exceptAll(expr_rows).count() == 0


def test_simhash_q3_oracle_parity(spark):
    """simhash_neardup_pairs(q=3) must match the DuckDB oracle with the
    same q — the q ladder may not drift from its SQL mirror."""
    import duckdb

    from opentelemetry_collector_spark import fixtures

    fx = fixtures.ensure_scalegrowth(1, base_docs=500, base_vecs=200)
    got = (
        dedup.simhash_neardup_pairs(
            spark.read.parquet(f"{fx}/documents.parquet"), max_hamming=8, q=3
        )
        .orderBy("id_a", "id_b")
        .collect()
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{fx}/documents.parquet')"
    )
    want = con.sql(
        dedup.oracle_simhash_pairs(8, q=3) + " ORDER BY id_a, id_b"
    ).fetchall()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in got] == [
        (a, b, h) for a, b, h in want
    ]
    assert len(got) > 0  # non-vacuous: the corpus plants near-dups


def test_neardup_components_transitive_closure(spark):
    """A~B, B~C (no A~C pair) must land A,B,C in ONE component; a chain
    needing multiple propagation rounds must converge; isolated docs
    keep their own id."""
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        # chain 0-1-2-3 (diameter 3 → multi-round), pair 5-6, isolated 4,7,8,9
        [(0, 1), (1, 2), (2, 3), (5, 6)],
        "id_a long, id_b long",
    )
    comp = {
        r["doc_id"]: r["component_id"]
        for r in dedup.neardup_components(docs, pairs).collect()
    }
    assert comp[0] == comp[1] == comp[2] == comp[3] == 0
    assert comp[5] == comp[6] == 5
    for i in (4, 7, 8, 9):
        assert comp[i] == i


def test_neardup_components_star_matches_propagation(spark):
    """Two-phase star must agree with the oracle's min-label
    propagation (a recursive CTE run in DuckDB) on a mixed graph
    (chain + pair + isolates + a triangle joined to the chain)."""
    import duckdb

    edges = [(0, 1), (1, 2), (2, 3), (5, 6), (3, 10), (10, 11), (11, 3)]
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(12)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE documents AS SELECT range AS doc_id FROM range(12)"
    )
    con.sql("CREATE TABLE mixed_pairs (id_a BIGINT, id_b BIGINT)")
    con.executemany("INSERT INTO mixed_pairs VALUES (?, ?)", edges)
    want = dict(
        con.sql(
            dedup.oracle_neardup_components("SELECT * FROM mixed_pairs")
        ).fetchall()
    )
    stats: dict = {}
    got = {
        r["doc_id"]: r["component_id"]
        for r in dedup.neardup_components(
            docs, pairs, stats_handle=stats
        ).collect()
    }
    assert got == want
    assert got[11] == 0 and got[4] == 4
    assert stats["rounds"] >= 1


def test_components_persist_handle_frees_checkpoints(spark):
    """The persist_handle cleanup convention (`for f in handle:
    f.unpersist()`) must deterministically free the localCheckpoint
    blocks both variants are built on — DataFrame.unpersist() is a
    silent no-op on a checkpointed plan, so the handle entries carry
    a checkpoint-aware unpersist (r5 review: repeated invocations were
    accumulating storage until the ContextCleaner happened to run)."""
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long"
    )
    def rdd_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = rdd_ids()
    handle: list = []
    labels = dedup.neardup_components(docs, pairs, persist_handle=handle)
    rows = labels.collect()
    assert len(rows) == 8
    assert handle
    for frame in handle:
        frame.unpersist(True)
    # set-based, not count-based: unrelated stale RDDs from earlier
    # tests may get ContextCleaner-reclaimed while this test runs
    leaked = rdd_ids() - before
    assert not leaked, (
        f"leaked persistent RDD ids {sorted(leaked)} past the handle cleanup"
    )


def test_neardup_components_star_deep_chain(spark):
    """A 64-node path (diameter 63) converges in O(log n) rounds — the
    depth-independence the two-phase star algorithm exists for."""
    n = 64
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(n)], "doc_id long, text string"
    )
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    stats: dict = {}
    comp = {
        r["doc_id"]: r["component_id"]
        for r in dedup.neardup_components(
            docs, chain, stats_handle=stats
        ).collect()
    }
    assert set(comp.values()) == {0} and len(comp) == n
    assert stats["rounds"] <= 10  # ~log2(64) + alternation slack


def test_neardup_components_star_nonconvergence_is_loud(spark):
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(40)], "doc_id long, text string"
    )
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.neardup_components(docs, chain, max_iters=1)


def test_neardup_components_nonconvergence_is_loud(spark):
    """A chain the round budget cannot collapse must raise, not return
    fragmented components — and the error path frees the edge
    checkpoints no caller holds a handle to."""
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(6)], "doc_id long, text string"
    )
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "id_a long, id_b long"
    )

    def rdd_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = rdd_ids()
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.neardup_components(docs, chain, max_iters=1)
    assert not rdd_ids() - before
