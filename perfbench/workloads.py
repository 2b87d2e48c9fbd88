"""Seeded benchmark inputs, generated once and cached by (kind, seed, size)
and by the sources that produce them.

Every input is a directory under the cache root:

  <cache>/<kind>-s<seed>-n<turns>-<inputs hash>/
      transcripts/          parquet files (conv_id, turn_idx, role, text, tool, ts)
      conv_meta.parquet     conv-level metadata the job finds next to the
                            transcripts; ~3% of conversations are left out
                            so the no_metadata drop rule fires
      oracle_rows.parquet   the DuckDB twin's routed rows for this input
      _READY

The inputs hash covers datagen.py, oracle.py and this file, so a
checkout whose generator or twin differs builds its own inputs instead
of trusting files another commit left behind.

Kinds:
  uniform  datagen.write_transcripts_parallel, unchanged;
  hot      the uniform corpus with its leading whole conversations merged
           into one conversation that holds at least a quarter of the
           turns, turn_idx renumbered gap-free;
  follow   the file schedule of the streaming run: whole conversations
           of a uniform corpus split into equal-sized parquet files.

Nothing here imports pyspark: the cache is built before the benchmark's
clock starts.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the package under test sits at the checkout root, next to this directory
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "ci_log_processing_spark")
sys.path.insert(0, ROOT)

from ci_log_processing_spark import datagen  # noqa: E402
from ci_log_processing_spark.oracle import pipeline_cte  # noqa: E402

HOT_SHARE = 0.25
META_MISSING_SHARE = 0.03
# datagen chunks; the incremental state's first batch covers 7 of 8
N_CHUNKS = 8
FILES_PER_CHUNK = 4

# sink row columns compared against the twin (src_partition and
# batch_id are run-specific and left out)
ROW_COLS = (
    "conv_id", "turn_idx", "role", "tool", "event_ts", "filled_ts",
    "message", "severity", "subsystem", "program", "pid", "pipeline",
    "category", "tags", "sink", "drop_reason",
)


def source_hash(*paths: str) -> str:
    """Content hash of these files and of every file under these
    directories (bytecode caches left out)."""
    files = []
    for p in paths:
        if os.path.isdir(p):
            files += [
                os.path.join(d, f)
                for d, dirs, fs in os.walk(p)
                if "__pycache__" not in d.split(os.sep)
                for f in fs
                if not f.endswith(".pyc")
            ]
        else:
            files.append(p)
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


INPUTS_HASH = source_hash(
    os.path.join(PACKAGE, "datagen.py"),
    os.path.join(PACKAGE, "oracle.py"),
    os.path.abspath(__file__),
)


def _gen_seed(seed: int) -> int:
    # datagen seeds chunk c with seed + c; spacing keeps the chunks of
    # neighbouring benchmark seeds disjoint
    return 1_000 * int(seed) + 7


def _read_dir(d: str) -> pa.Table:
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    return pa.concat_tables([pq.read_table(os.path.join(d, f)) for f in files])


def make_hot(table: pa.Table) -> pa.Table:
    """Merge the leading whole conversations into one conversation
    holding >= HOT_SHARE of the turns, with turn_idx 0..H-1 gap-free.

    The cut is moved forward to a conversation boundary so that no
    conversation is split (a split one would start at turn_idx > 0)."""
    conv = table.column("conv_id").to_numpy(zero_copy_only=False)
    need = int(np.ceil(table.num_rows * HOT_SHARE))
    h = need
    while h < len(conv) and conv[h] == conv[h - 1]:
        h += 1
    conv = conv.copy()
    conv[:h] = "hot-00000000"
    turn = table.column("turn_idx").to_numpy().copy()
    turn[:h] = np.arange(h, dtype=turn.dtype)
    table = table.set_column(
        table.schema.get_field_index("conv_id"), "conv_id", pa.array(conv, pa.string())
    )
    return table.set_column(
        table.schema.get_field_index("turn_idx"), "turn_idx", pa.array(turn, pa.int32())
    )


def _write_meta(conv_ids: np.ndarray, path: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    keep = rng.random(len(conv_ids)) >= META_MISSING_SHARE
    pq.write_table(pa.table({"conv_id": pa.array(conv_ids[keep], pa.string())}), path)


def _write_oracle(d: str) -> None:
    """Materialize the twin's routed rows (plus event_date) once."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.execute(
            "CREATE VIEW bench_t AS SELECT * FROM read_parquet("
            f"'{d}/transcripts/*.parquet')"
        )
        con.execute(
            f"CREATE VIEW bench_m AS SELECT * FROM read_parquet('{d}/conv_meta.parquet')"
        )
        sql = pipeline_cte(transcripts_rel="bench_t", meta_rel="bench_m") + (
            f"SELECT {', '.join(ROW_COLS)}, CAST(filled_ts AS DATE) AS event_date "
            "FROM routed ORDER BY conv_id, turn_idx"
        )
        con.execute(f"COPY ({sql}) TO '{d}/oracle_rows.parquet' (FORMAT parquet)")
    finally:
        con.close()


def build(cache_root: str, kind: str, seed: int, n_turns: int) -> str:
    """Return the input directory for (kind, seed, n_turns), building it
    on first use. Deterministic: the same arguments give the same files."""
    d = os.path.join(cache_root, f"{kind}-s{seed}-n{n_turns}-{INPUTS_HASH}")
    if os.path.exists(os.path.join(d, "_READY")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    # datagen's own files, part-<chunk>-<i>: chunks have disjoint
    # conversation ids, so whole chunks are whole conversations (the
    # incremental state's first batch selects by chunk)
    tdir = os.path.join(d, "transcripts")
    datagen.write_transcripts_parallel(
        tdir,
        n_turns,
        seed=_gen_seed(seed),
        n_chunks=N_CHUNKS,
        n_files=N_CHUNKS * FILES_PER_CHUNK,
    )
    files = sorted(f for f in os.listdir(tdir) if f.endswith(".parquet"))
    parts = [pq.read_table(os.path.join(tdir, f)) for f in files]
    table = pa.concat_tables(parts)
    if kind == "hot":
        table = make_hot(table)
        lo = 0
        for f, part in zip(files, parts):
            pq.write_table(
                table.slice(lo, part.num_rows), os.path.join(tdir, f)
            )
            lo += part.num_rows
    elif kind != "uniform":
        raise ValueError(f"unknown corpus kind {kind!r}")
    conv_ids = np.unique(table.column("conv_id").to_numpy(zero_copy_only=False))
    _write_meta(conv_ids, os.path.join(d, "conv_meta.parquet"), _gen_seed(seed))
    _write_oracle(d)
    open(os.path.join(d, "_READY"), "w").close()
    return d


def first_batch_files(corpus_dir: str) -> list[str]:
    """Transcript files of the incremental state's first batch: the
    first 7 of the 8 conversation chunks."""
    tdir = os.path.join(corpus_dir, "transcripts")
    return sorted(
        os.path.join(tdir, f)
        for f in os.listdir(tdir)
        if f.endswith(".parquet") and int(f.split("-")[1]) < N_CHUNKS - 1
    )


# The incremental state: one small uniform corpus, the same for every
# seed. Its first batch (7/8 of the chunks) and then its second (the
# whole corpus again, with a new --batch-ts) are processed once and
# cached. It does not depend on --seed so that only the first run of a
# checkout pays for building it.
INCREMENTAL_SEED = 0
INCREMENTAL_TURNS = 24_000
NEXT_BATCH_TS = "2024-01-02 00:00:00"


def incremental_states(corpus_dir: str) -> tuple[str, str]:
    """Output directories after the first and after the second batch
    (built by run.py with batch.py children, which need a session).
    They hold the job's own files (checkpoint manifest, sink history),
    so they are keyed by the whole package's sources."""
    base = os.path.join(corpus_dir, f"incremental_state-{source_hash(PACKAGE)}")
    return os.path.join(base, "first"), os.path.join(base, "second")


def first_batch_input(corpus_dir: str) -> str:
    """A corpus-shaped directory holding the first batch's files."""
    d = os.path.join(corpus_dir, "first_batch")
    if not os.path.exists(os.path.join(d, "_READY")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.join(d, "transcripts"))
        for f in first_batch_files(corpus_dir):
            shutil.copy(f, os.path.join(d, "transcripts"))
        shutil.copy(os.path.join(corpus_dir, "conv_meta.parquet"), d)
        open(os.path.join(d, "_READY"), "w").close()
    return d


def build_follow(cache_root: str, seed: int, n_files: int, turns_per_file: int) -> str:
    """Streaming input: `n_files` parquet files of whole conversations,
    copied one by one into the stream's directory on the follow run's
    schedule. Same layout as build()."""
    d = os.path.join(
        cache_root, f"follow-s{seed}-f{n_files}x{turns_per_file}-{INPUTS_HASH}"
    )
    if os.path.exists(os.path.join(d, "_READY")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    n_turns = n_files * turns_per_file
    raw = os.path.join(d, "_raw")
    datagen.write_transcripts(raw, n_turns, seed=_gen_seed(seed) + 500, n_files=1)
    table = _read_dir(raw)
    shutil.rmtree(raw)
    conv = table.column("conv_id").to_numpy(zero_copy_only=False)
    # cut at conversation boundaries nearest to equal shares
    starts = np.flatnonzero(np.r_[True, conv[1:] != conv[:-1]])
    cuts = [0]
    for i in range(1, n_files):
        j = np.searchsorted(starts, i * turns_per_file)
        cuts.append(int(starts[min(j, len(starts) - 1)]))
    cuts.append(table.num_rows)
    tdir = os.path.join(d, "transcripts")
    os.makedirs(tdir)
    for i in range(n_files):
        part = table.slice(cuts[i], cuts[i + 1] - cuts[i])
        pq.write_table(part, os.path.join(tdir, f"part-{i:04d}.parquet"))
    _write_meta(np.unique(conv), os.path.join(d, "conv_meta.parquet"), _gen_seed(seed))
    _write_oracle(d)
    open(os.path.join(d, "_READY"), "w").close()
    return d

