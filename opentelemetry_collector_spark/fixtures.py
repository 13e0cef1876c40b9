"""Deterministic synthetic transcripts table (the pipeline's input).

Shape is the authoritative input_hint from BASELINE.json:
    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

Mirrors the reference's deterministic test-data generators
(pdata/testdata/log.go:15-46 GenerateLogs(count) — fixed seed, fixed
attribute values) and the contract-checker unique-ID convention
(exporter/exportertest/contract_checker.go:27-28): here the unique id
is (conv_id, turn_idx), embedded byte-exactly in the text payload.

Properties (FIXTURES.md §1):
- Zipf-ish hot-key skew: ~1% of conv_ids own ~30% of turns (exercises
  salting / AQE skew-join);
- rows are emitted in shuffled order so stable-ordering via a window
  over (conv_id, turn_idx) is actually exercised;
- ~2% of rows are malformed (quarantine-path coverage, the analog of
  permanent errors in retry_sender.go:100-102);
- zero wall-clock dependence: everything derives from seed 42.

The parquet file is written once under /root/repo/fixtures/<sfname>/
and then read by BOTH the Spark queries and the DuckDB oracle — the two
engines consume identical bytes, so correctness comparisons can never
drift on generator details.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_ROOT = Path(os.environ.get("OTELCOL_SPARK_FIXTURES", "/root/repo/fixtures"))

SEED = 42
TURNS_PER_SF = 6_000_000  # sf0.001 → 6k turns, sf0.01 → 60k, sf0.1 → 600k
AVG_TURNS_PER_CONV = 12
BASE_TS_US = np.datetime64("2025-01-01T00:00:00", "us").astype("int64")

ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["search", "python", "browser", "editor"])
LEVELS = np.array(["DEBUG", "INFO", "WARN", "ERROR"])
SERVICES = np.array(["api", "auth", "ingest", "billing", "search", "frontend"])
WORDS = np.array(
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango".split()
)

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def sf_name_of(sf_dir: str) -> str:
    """'/root/testdata/sf0.01' → 'sf0.01'."""
    return Path(sf_dir).name


def sf_value_of(sf_dir: str) -> float:
    name = sf_name_of(sf_dir)
    return float(name[2:]) if name.startswith("sf") else 0.01


def transcripts_path(sf_dir: str) -> Path:
    return FIXTURE_ROOT / sf_name_of(sf_dir) / "transcripts.parquet"


def role_dim_path() -> Path:
    return FIXTURE_ROOT / "dims" / "role_dim.parquet"


def tool_dim_path() -> Path:
    return FIXTURE_ROOT / "dims" / "tool_dim.parquet"


def _turn_counts(n_turns: int, rng: np.random.RandomState) -> np.ndarray:
    """Per-conversation turn counts with hot-key skew.

    ~1% of convs are 'hot' and own ~30% of all turns; the rest share 70%.
    """
    n_convs = max(4, n_turns // AVG_TURNS_PER_CONV)
    n_hot = max(1, n_convs // 100)
    hot_turns = int(n_turns * 0.30)
    cold_turns = n_turns - hot_turns

    hot = rng.multinomial(hot_turns, np.ones(n_hot) / n_hot)
    n_cold = n_convs - n_hot
    cold = rng.multinomial(cold_turns, np.ones(n_cold) / n_cold)
    counts = np.concatenate([hot, cold])
    # every conversation has at least 1 turn: steal from the largest
    # counts WITHOUT driving any below 1 (a single-victim steal goes
    # negative at sf>=5 where zero-count convs outnumber the hottest
    # conv's turns). Identical output to the old code at small sf
    # (one victim suffices there), so cached fixtures stay byte-stable.
    zero = counts == 0
    if zero.any():
        need = int(zero.sum())
        counts[zero] = 1
        for i in np.argsort(counts)[::-1]:
            take = min(need, int(counts[i]) - 1)
            counts[i] -= take
            need -= take
            if need == 0:
                break
        if need:
            raise ValueError("n_turns too small for the conversation count")
    assert counts.sum() == n_turns
    assert (counts >= 1).all()
    return counts.astype("int64")


def generate_transcripts(n_turns: int, seed: int = SEED) -> pa.Table:
    rng = np.random.RandomState(seed)
    counts = _turn_counts(n_turns, rng)
    n_convs = len(counts)

    conv_ix = np.repeat(np.arange(n_convs, dtype="int64"), counts)
    # per-conversation 0..k-1 sequence
    offsets = np.concatenate([[0], np.cumsum(counts)[:-1]])
    turn_idx = (np.arange(n_turns, dtype="int64") - np.repeat(offsets, counts)).astype(
        "int32"
    )

    h = (conv_ix * 1_000_003 + turn_idx * 7919) & 0x7FFFFFFF
    role = ROLES[h % 4]
    tool = np.where(role == "tool", TOOLS[(h // 4) % 4], "")
    level = LEVELS[(h // 16) % 4]
    svc = SERVICES[(h // 64) % 6]
    latency = (h % 9973).astype("int64")
    w1 = WORDS[(h // 128) % len(WORDS)]
    w2 = WORDS[(h // 2048) % len(WORDS)]

    conv_id = np.char.add("conv-", np.char.zfill(conv_ix.astype("U8"), 8))
    turn_s = turn_idx.astype("U6")

    # "[{level}] svc={svc} latency_ms={n} req_id={conv_id}:{turn_idx} msg={lorem}"
    text = np.char.add("[", level)
    text = np.char.add(text, "] svc=")
    text = np.char.add(text, svc)
    text = np.char.add(text, " latency_ms=")
    text = np.char.add(text, latency.astype("U5"))
    text = np.char.add(text, " req_id=")
    text = np.char.add(text, conv_id)
    text = np.char.add(text, ":")
    text = np.char.add(text, turn_s)
    text = np.char.add(text, " msg=")
    text = np.char.add(text, np.char.add(np.char.add(w1, "-"), w2))

    # ~2% malformed rows (deterministic by hash, not by rng order)
    bad = (h % 50) == 17
    junk = np.char.add("!!corrupt ", np.char.add(w2, turn_s))
    text = np.where(bad, junk, text)

    # ts = base + f(conv) + turn_idx * 1s   (microseconds)
    ts_us = BASE_TS_US + (conv_ix % 86_400) * 1_000_000 + turn_idx.astype("int64") * 1_000_000
    ts = ts_us.astype("datetime64[us]")

    perm = rng.permutation(n_turns)
    return pa.table(
        {
            "conv_id": conv_id[perm],
            "turn_idx": turn_idx[perm],
            "role": role[perm],
            "text": text[perm],
            "tool": tool[perm],
            "ts": ts[perm],
        },
        schema=TRANSCRIPT_SCHEMA,
    )


# Row-group size for the transcript fixture (guide §6: layout decides
# how well readers can parallelize). Parquet scan tasks cannot split a
# row group, so groups are the hard ceiling on scan+parse parallelism:
# the r6 value (65536 rows ≈ 6 MB) capped the sf0.1 file at 10 map
# tasks on a 32-core box. 16384 rows ≈ 1.5 MB keeps per-group overhead
# negligible while letting split-size configs actually bite.
TRANSCRIPT_ROW_GROUP_ROWS = 16384


def ensure_transcripts(sf_dir: str) -> str:
    """Generate (once) and return the transcripts parquet path for
    sf_dir. An existing file with coarser row groups than the current
    layout target is rewritten in place (same deterministic contents,
    same path — the oracle SQL embeds the path, so it must not move)."""
    path = transcripts_path(sf_dir)
    if path.exists():
        md = pq.read_metadata(path)
        if (
            md.num_row_groups
            and md.row_group(0).num_rows <= TRANSCRIPT_ROW_GROUP_ROWS
        ):
            return str(path)
    n = max(1000, int(TURNS_PER_SF * sf_value_of(sf_dir)))
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp.parquet")
    pq.write_table(
        generate_transcripts(n), tmp, row_group_size=TRANSCRIPT_ROW_GROUP_ROWS
    )
    os.replace(tmp, path)
    return str(path)


def versioned_tool_dim_path() -> Path:
    return FIXTURE_ROOT / "dims" / "tool_dim_versioned.parquet"


def ensure_versioned_tool_dim() -> str:
    """Time-versioned tool dimension (SCD-2 shape) for as-of enrichment.

    Versions straddle the transcript ts range (2025-01-01 .. 01-02):
    every tool has a pre-range v1 except 'browser', whose first version
    postdates every transcript row — exercising the no-version-yet NULL
    path of the as-of join."""
    path = versioned_tool_dim_path()
    if not path.exists():
        def ts(s: str):
            return np.datetime64(s, "us")

        rows = [
            ("", ts("2024-12-01T00:00:00"), "none-v1", 0),
            ("search", ts("2024-12-01T00:00:00"), "search-v1", 1),
            ("search", ts("2025-01-01T06:00:00"), "search-v2", 2),
            ("python", ts("2024-12-01T00:00:00"), "py-v1", 1),
            ("python", ts("2025-01-01T06:00:00"), "py-v2", 2),
            ("python", ts("2025-01-01T18:00:00"), "py-v3", 3),
            ("editor", ts("2024-12-01T00:00:00"), "ed-v1", 1),
            ("browser", ts("2025-06-01T00:00:00"), "br-v1", 1),
        ]
        table = pa.table(
            {
                "tool": pa.array([r[0] for r in rows], pa.string()),
                "valid_from": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "tool_version": pa.array([r[2] for r in rows], pa.string()),
                "cost_tier": pa.array([r[3] for r in rows], pa.int32()),
            }
        )
        path.parent.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp.parquet")
        pq.write_table(table, tmp)
        os.replace(tmp, path)
    return str(path)


# bump when a generator's OUTPUT changes: existence-only caching would
# otherwise serve stale bytes from a prior round's fixtures/ dir (r3
# switched media image payloads from hash chains to real PNGs — an old
# cache would silently exercise the stub path forever)
MEDIA_GEN_VERSION = 5
PROFILES_GEN_VERSION = 2  # v2: + mappings table, locations.mapping_id


def media_path() -> Path:
    return FIXTURE_ROOT / "media" / f"media_v{MEDIA_GEN_VERSION}.parquet"


def ensure_media(n: int = 96, seed: int = SEED) -> str:
    """Deterministic media parquet (multimodal.media_rows + a
    generation-time payload_sha256 column): Spark re-derives the digest
    from the raw payload bytes through the Arrow/pandas boundary, the
    DuckDB oracle reads the stored column — a content round-trip check
    (DuckDB 1.0 cannot hash BLOBs itself)."""
    import hashlib

    from opentelemetry_collector_spark.operators.multimodal import (
        AVI_FPS,
        _avi_frames,
        _wav_samples,
        media_rows,
    )

    path = media_path()
    if not path.exists():
        rows = media_rows(n, seed)
        # audio ground truth computed from the SOURCE samples, before
        # any encoding — the Spark side recomputes it from the DECODED
        # wav stream, so oracle parity is a true codec check (not the
        # decoder checking itself)
        sample_sums, pixel_sums, frame_counts, frame_digests = [], [], [], []
        for i, mt, _payload, meta in rows:
            ssum = psum = nfr = fds = None
            if mt == "audio/wav":
                ns = meta["sample_rate"] * meta["duration_ms"] // 1000
                ssum = int(_wav_samples(i, seed, ns).sum(dtype="int64"))
            elif mt == "video/avi":
                nfr = meta["duration_ms"] * AVI_FPS // 1000
                frames = _avi_frames(i, seed, nfr, meta["height"], meta["width"])
                psum = int(frames.sum(dtype="int64"))
                # per-frame RGB-byte digests: frame sampling's oracle
                # ground truth (the Spark side re-derives them from the
                # DECODED frames — a true codec check per frame)
                fds = [
                    hashlib.sha256(frames[f].tobytes()).hexdigest()
                    for f in range(nfr)
                ]
            sample_sums.append(ssum)
            pixel_sums.append(psum)
            frame_counts.append(nfr)
            frame_digests.append(fds)
        meta_type = pa.struct(
            [
                ("width", pa.int32()),
                ("height", pa.int32()),
                ("sample_rate", pa.int32()),
                ("duration_ms", pa.int32()),
                ("codec", pa.string()),
            ]
        )
        table = pa.table(
            {
                "media_id": pa.array([r[0] for r in rows], pa.int64()),
                "media_type": pa.array([r[1] for r in rows], pa.string()),
                "payload": pa.array([bytes(r[2]) for r in rows], pa.binary()),
                "meta": pa.array([r[3] for r in rows], meta_type),
                "payload_sha256": pa.array(
                    [hashlib.sha256(bytes(r[2])).hexdigest() for r in rows],
                    pa.string(),
                ),
                "audio_sample_sum": pa.array(sample_sums, pa.int64()),
                "video_pixel_sum": pa.array(pixel_sums, pa.int64()),
                "video_n_frames": pa.array(frame_counts, pa.int32()),
                "video_frame_sha256": pa.array(
                    frame_digests, pa.list_(pa.string())
                ),
            }
        )
        path.parent.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp.parquet")
        pq.write_table(table, tmp)
        os.replace(tmp, path)
    return str(path)


# Spark schemas of the dimension tables ensure_dims writes (readers
# declare them, so a read runs no footer-inference job)
ROLE_DIM_DDL = "role string, role_kind string, is_human boolean"
TOOL_DIM_DDL = "tool string, tool_family string, sink_hint string"


def ensure_dims() -> tuple[str, str]:
    """Enrichment lookup tables (FIXTURES.md §2, broadcast-join side)."""
    rp, tp = role_dim_path(), tool_dim_path()
    rp.parent.mkdir(parents=True, exist_ok=True)

    def _atomic_write(path: Path, table: pa.Table) -> None:
        # tmp + rename, same as ensure_transcripts: a concurrent reader
        # must never see a half-written parquet footer
        tmp = path.with_suffix(".tmp.parquet")
        pq.write_table(table, tmp)
        os.replace(tmp, path)

    if not rp.exists():
        _atomic_write(
            rp,
            pa.table(
                {
                    "role": ["user", "assistant", "system", "tool"],
                    "role_kind": ["human", "model", "config", "machine"],
                    "is_human": [True, False, False, False],
                }
            ),
        )
    if not tp.exists():
        _atomic_write(
            tp,
            pa.table(
                {
                    "tool": ["", "search", "python", "browser", "editor"],
                    "tool_family": ["none", "retrieval", "code", "web", "code"],
                    "sink_hint": [
                        "sink_default",
                        "sink_default",
                        "sink_py",
                        "sink_default",
                        "sink_py",
                    ],
                }
            ),
        )
    return str(rp), str(tp)


# ------------------------------------------------------------- profiles


# Spark schemas of the tables ensure_profiles writes (readers declare
# them, so a read runs no footer-inference job)
PROFILE_DDL = {
    "functions": "function_id int, name string, filename string",
    "locations": "location_id int, function_id int, line int, mapping_id int",
    "stacks": "stack_id int, location_ids array<int>",
    "samples": (
        "sample_id bigint, profile_id int, stack_id int, value bigint, "
        "ts timestamp_ntz, link_id int, attribute_ids array<int>"
    ),
    "links": "link_id int, trace_id string, span_id string",
    "attributes": (
        "attr_id int, key string, str_value string, int_value bigint, unit string"
    ),
    "mappings": (
        "mapping_id int, filename string, memory_start bigint, "
        "memory_limit bigint, file_offset bigint"
    ),
}


def profiles_dir() -> Path:
    return FIXTURE_ROOT / f"profiles_v{PROFILES_GEN_VERSION}"


def ensure_profiles(
    n_samples: int = 4000,
    n_functions: int = 48,
    n_locations: int = 96,
    n_stacks: int = 160,
    seed: int = SEED,
) -> dict[str, str]:
    """Deterministic profiles-signal fixture, dictionary-encoded the
    way pdata/pprofile is (generated_profilesdictionary.go:44-83:
    FunctionTable / LocationTable / StackTable; generated_sample.go:51
    Sample.StackIndex; generated_stack.go:51 Stack.LocationIndices,
    leaf first):

        profile_functions(function_id, name, filename)
        profile_locations(location_id, function_id, line)
        profile_stacks(stack_id, location_ids array<int32>)
        profile_samples(sample_id, profile_id, stack_id, value, ts)

    value is nanoseconds of CPU attributed to the sample. Written once;
    Spark and the DuckDB oracle read the same bytes."""
    d = profiles_dir()
    paths = {t: d / f"profile_{t}.parquet" for t in PROFILE_DDL}
    if all(p.exists() for p in paths.values()):
        return {t: str(p) for t, p in paths.items()}
    d.mkdir(parents=True, exist_ok=True)
    rng = np.random.RandomState(seed)

    fn_ids = np.arange(n_functions, dtype=np.int32)
    funcs = pa.table(
        {
            "function_id": fn_ids,
            "name": [f"pkg{i % 6}.Func{i}" for i in range(n_functions)],
            "filename": [f"src/pkg{i % 6}/file{i % 11}.go" for i in range(n_functions)],
        }
    )
    loc_fn = rng.randint(0, n_functions, size=n_locations).astype(np.int32)
    locs = pa.table(
        {
            "location_id": np.arange(n_locations, dtype=np.int32),
            "function_id": loc_fn,
            "line": rng.randint(1, 500, size=n_locations).astype(np.int32),
        }
    )
    # stacks: leaf-first location index lists, depth 1..8; a zipf-ish
    # skew on leaf locations makes some functions genuinely hot
    depths = rng.randint(1, 9, size=n_stacks)
    hot_leaves = rng.randint(0, n_locations, size=max(4, n_locations // 12))
    stacks_list = []
    for s in range(n_stacks):
        leaf = (
            int(hot_leaves[s % len(hot_leaves)])
            if rng.rand() < 0.35
            else int(rng.randint(0, n_locations))
        )
        rest = rng.randint(0, n_locations, size=depths[s] - 1).tolist()
        stacks_list.append([leaf] + [int(x) for x in rest])
    stacks = pa.table(
        {
            "stack_id": np.arange(n_stacks, dtype=np.int32),
            "location_ids": pa.array(stacks_list, type=pa.list_(pa.int32())),
        }
    )
    sample_stack = rng.randint(0, n_stacks, size=n_samples).astype(np.int32)
    values = (rng.pareto(2.0, size=n_samples) * 1e6 + 1e4).astype(np.int64)
    ts = BASE_TS_US + np.arange(n_samples, dtype=np.int64) * 10_000

    # --- r5: the pprofile dictionary remainder — LinkTable
    # (generated_link.go:51-70: Link.TraceID/SpanID) and AttributeTable
    # (generated_keyvalueandunit.go:53-71: KeyValueAndUnit —
    # key/value/unit); sample.go:24 treats LinkIndex 0 as "unlinked",
    # so dictionary row 0 is the reserved empty entry in both tables.
    # All new rng draws happen AFTER the original stream so the
    # pre-existing tables' bytes are unchanged across regeneration.
    n_links = 24
    tr_bytes = rng.randint(0, 256, size=(n_links, 16)).astype(np.uint8)
    sp_bytes = rng.randint(0, 256, size=(n_links, 8)).astype(np.uint8)
    links = pa.table(
        {
            "link_id": np.arange(n_links + 1, dtype=np.int32),
            "trace_id": pa.array(
                [None] + [bytes(b).hex() for b in tr_bytes], pa.string()
            ),
            "span_id": pa.array(
                [None] + [bytes(b).hex() for b in sp_bytes], pa.string()
            ),
        }
    )
    mem_vals = (4096 * (2 ** rng.randint(0, 12, size=4))).astype(np.int64)
    gc_vals = rng.randint(1, 50, size=4).astype(np.int64)
    attr_rows = (
        [("", None, None, None)]
        + [(f"thread.name", f"worker-{i}", None, None) for i in range(8)]
        + [("memory.allocated", None, int(v), "bytes") for v in mem_vals]
        + [("gc.pause", None, int(v), "ms") for v in gc_vals]
    )
    attrs_tbl = pa.table(
        {
            "attr_id": np.arange(len(attr_rows), dtype=np.int32),
            "key": pa.array([r[0] for r in attr_rows], pa.string()),
            "str_value": pa.array([r[1] for r in attr_rows], pa.string()),
            "int_value": pa.array([r[2] for r in attr_rows], pa.int64()),
            "unit": pa.array([r[3] for r in attr_rows], pa.string()),
        }
    )
    link_draw = rng.randint(1, n_links + 1, size=n_samples).astype(np.int32)
    link_id = np.where(rng.rand(n_samples) < 0.4, link_draw, 0).astype(np.int32)
    thread_attr = rng.randint(1, 9, size=n_samples)
    mem_attr = rng.randint(9, 13, size=n_samples)
    mem_on = rng.rand(n_samples) < 0.5
    gc_attr = rng.randint(13, 17, size=n_samples)
    gc_on = rng.rand(n_samples) < 0.3
    attr_ids = [
        [int(thread_attr[i])]
        + ([int(mem_attr[i])] if mem_on[i] else [])
        + ([int(gc_attr[i])] if gc_on[i] else [])
        for i in range(n_samples)
    ]
    samples = pa.table(
        {
            "sample_id": np.arange(n_samples, dtype=np.int64),
            "profile_id": (np.arange(n_samples) // 500).astype(np.int32),
            "stack_id": sample_stack,
            "value": values,
            "ts": ts.view("datetime64[us]"),
            "link_id": link_id,
            "attribute_ids": pa.array(attr_ids, type=pa.list_(pa.int32())),
        }
    )

    # --- r6: MappingTable (generated_mapping.go:53-100 — the binary /
    # build-id frame attribution a symbolization consumer needs).
    # mapping_id 0 is the reserved "unknown mapping" row, mirroring the
    # LinkTable convention (dictionary_helpers.go index-0 contract).
    # New rng draws come AFTER every pre-existing stream so columns
    # generated above keep byte-identical values across regeneration.
    n_mappings = 6
    mem_start = (0x400000 + np.arange(n_mappings, dtype=np.int64) * 0x1000000)
    mem_len = (rng.randint(64, 4096, size=n_mappings).astype(np.int64)) * 4096
    mappings = pa.table(
        {
            "mapping_id": np.arange(n_mappings + 1, dtype=np.int32),
            "filename": pa.array(
                [None] + [f"/usr/lib/libsvc{i}.so" for i in range(n_mappings)],
                pa.string(),
            ),
            "memory_start": pa.array([0] + mem_start.tolist(), pa.int64()),
            "memory_limit": pa.array(
                [0] + (mem_start + mem_len).tolist(), pa.int64()
            ),
            "file_offset": pa.array(
                [0] + (rng.randint(0, 64, size=n_mappings) * 4096).tolist(),
                pa.int64(),
            ),
        }
    )
    # ~1/8 of locations keep the reserved unknown mapping (id 0) so the
    # omit-on-zero presence edge in the envelope is non-vacuous
    loc_mapping = rng.randint(0, n_mappings + 1, size=n_locations).astype(np.int32)
    loc_mapping = np.where(rng.rand(n_locations) < 0.125, 0, loc_mapping)
    locs = locs.append_column("mapping_id", pa.array(loc_mapping, pa.int32()))

    for name, tbl in (
        ("functions", funcs),
        ("locations", locs),
        ("stacks", stacks),
        ("samples", samples),
        ("links", links),
        ("attributes", attrs_tbl),
        ("mappings", mappings),
    ):
        pq.write_table(tbl, paths[name], row_group_size=65536)
    return {t: str(p) for t, p in paths.items()}


# ---------------------------------------------------------- edge documents

EDGE_DOCS_GEN_VERSION = 1


def edge_docs_path() -> Path:
    return FIXTURE_ROOT / "edge_docs" / f"edge_docs_v{EDGE_DOCS_GEN_VERSION}.parquet"


def ensure_edge_docs() -> str:
    """Deterministic adversarial document rows UNIONed into the text
    operator driver queries, so their oracle gates exercise branches
    the word-soup documents fixture never hits: real PII matches
    (emails / phones-with-every-whitespace-kind / long id runs), NULL
    and empty text, unicode, single tokens, and maximal repetition.
    doc_ids start at 10_000_000 — far above any documents table."""
    path = edge_docs_path()
    if path.exists():
        return str(path)
    path.parent.mkdir(parents=True, exist_ok=True)
    rows = [
        (10_000_000, "contact alice.smith+spam@example-mail.org for details"),
        (10_000_001, "call +1 (555) 123-4567 or 555\t123\n4567 maybe 555 123 4567"),
        (10_000_002, "account 123456789 and card 9876543210123456 end"),
        (10_000_003, "mixed bob@x.co then 123456789 then +44 20 7946 0958 done"),
        (10_000_004, None),
        (10_000_005, ""),
        (10_000_006, "   "),
        (10_000_007, "single"),
        (10_000_008, "dup dup dup dup dup dup dup dup"),
        (10_000_009, "ünïcode tëxt with çhars @ loose and 12345678 short-id"),
        (10_000_010, "a b a b a b a b a b"),
        (10_000_011, "no pii here just words " * 5),
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "text": pa.array([r[1] for r in rows], type=pa.string()),
        }
    )
    pq.write_table(tbl, path, row_group_size=65536)
    return str(path)


# ------------------------------------------------- scale-growth corpora

SCALEGROWTH_GEN_VERSION = 4
# Zipf(s=0.5) vocabulary of 2000 tokens. NOT the driver table's
# 31-word soup: with 31 words two RANDOM 50-word docs are within
# hamming-8 simhash distance ~27% of the time (measured, v1) —
# ground-truth near-dup density is itself quadratic and NO candidate
# generator can be linear against it. The skew is capped at s=0.5
# because simhash here is tf-weighted (token MULTISET): at s≥0.8 the
# repeated head tokens dominate every doc's bit sums and a residual
# ~1e-4 of RANDOM pairs lands within hamming 8 (simulated), which is
# again a quadratic ground-truth term. (Production corpora with
# stopword-dominated text need idf weighting / stopword stripping
# upstream of simhash for the same reason.) With s=0.5 the only
# near-dups are the planted copies below — scale-invariant density,
# so superlinear candidate growth can only come from a generator.
SCALEGROWTH_VOCAB = 2000
SCALEGROWTH_ZIPF_S = 0.5
# tokens are random a-z strings (not "tokNNNN"): winnowing hashes
# 8-CHAR grams, and a numbered-token vocabulary collapses the gram
# space ("tok0" prefixes everywhere) into quadratic random gram
# sharing — another ground-truth artifact, not generator behavior
SCALEGROWTH_WORD_LEN = (3, 11)
SCALEGROWTH_NEARDUP_FRAC = 0.06  # perturbed copies of earlier docs
SCALEGROWTH_EXACT_FRAC = 0.01  # verbatim copies
SCALEGROWTH_VEC_CLUSTER_FRAC = 0.08  # noisy copies of earlier vectors


def scalegrowth_dir(scale: int, base_docs: int = 5000, base_vecs: int = 2000) -> Path:
    return (
        FIXTURE_ROOT
        / "scalegrowth"
        / f"x{scale}_d{base_docs}_e{base_vecs}_v{SCALEGROWTH_GEN_VERSION}"
    )


def ensure_scalegrowth(
    scale: int, base_docs: int = 5000, base_vecs: int = 2000, seed: int = SEED
) -> str:
    """Deterministic documents+embeddings corpus at `scale`× the base
    size, SAME generative process at every scale — the two-scale
    candidate-growth experiment (VERDICT r3 #1) needs corpora that
    differ only in n, which the driver's fixed-size testdata cannot
    provide. Duplicate structure: ~1% verbatim copies, ~6% 3-word
    perturbations of earlier docs, ~8% noisy copies of earlier
    vectors — true-positive density is scale-invariant, so superlinear
    candidate growth can only come from the generators themselves."""
    out = scalegrowth_dir(scale, base_docs, base_vecs)
    if (out / "documents.parquet").exists() and (out / "embeddings.parquet").exists():
        return str(out)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.RandomState(seed)  # same seed: x4 EXTENDS x1 stats
    n_docs = base_docs * scale
    lo, hi = SCALEGROWTH_WORD_LEN
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen: set[str] = set()
    words: list[str] = []
    while len(words) < SCALEGROWTH_VOCAB:  # distinct: Zipf ranks stay honest
        w = "".join(letters[rng.randint(0, 26, size=rng.randint(lo, hi))])
        if w not in seen:
            seen.add(w)
            words.append(w)
    vocab = np.array(words)
    zipf_p = 1.0 / np.arange(1, SCALEGROWTH_VOCAB + 1) ** SCALEGROWTH_ZIPF_S
    zipf_p /= zipf_p.sum()
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.rand()
        if i > 10 and r < SCALEGROWTH_EXACT_FRAC:
            texts.append(texts[rng.randint(0, i)])
        elif i > 10 and r < SCALEGROWTH_EXACT_FRAC + SCALEGROWTH_NEARDUP_FRAC:
            words = texts[rng.randint(0, i)].split(" ")
            for p in rng.randint(0, len(words), size=3):
                words[p] = str(vocab[rng.randint(0, SCALEGROWTH_VOCAB)])
            texts.append(" ".join(words))
        else:
            ln = rng.randint(10, 101)
            texts.append(" ".join(rng.choice(vocab, size=ln, p=zipf_p)))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(
                np.array(["en", "zh", "es", "fr", "de"])[rng.randint(0, 5, size=n_docs)]
            ),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(
                np.array([len(t) for t in texts], dtype="int64")
            ),
        }
    )
    # tmp + rename: a concurrent reader (or a killed run, which .exists()
    # would otherwise cache forever) must never see a half-written footer
    tmp = out / "documents.tmp.parquet"
    pq.write_table(docs, tmp, row_group_size=65536)
    os.replace(tmp, out / "documents.parquet")

    n_vecs = base_vecs * scale
    dim = 64
    vecs = np.empty((n_vecs, dim), dtype="float32")
    for i in range(n_vecs):
        if i > 10 and rng.rand() < SCALEGROWTH_VEC_CLUSTER_FRAC:
            v = vecs[rng.randint(0, i)] + rng.normal(scale=0.05, size=dim).astype("float32")
        else:
            v = rng.normal(size=dim).astype("float32")
        vecs[i] = v / np.linalg.norm(v)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype="int64")),
            "embedding": pa.array(vecs.tolist(), type=pa.list_(pa.float32())),
            "label": pa.array([f"l{i % 16}" for i in range(n_vecs)]),
        }
    )
    tmp = out / "embeddings.tmp.parquet"
    pq.write_table(emb, tmp, row_group_size=65536)
    os.replace(tmp, out / "embeddings.parquet")
    return str(out)
