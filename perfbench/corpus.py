"""Seeded input corpora for the benchmark, cached under the work directory.

A seed selects a block of doc numbers that no other seed uses. The corpus
is built from the block the way the sf0.1 fixture is built, one thousand
docs to one mega-doc:

- two windows of 996 ordinary docs, each lying strictly between two
  multiples of ``datagen.MEGA_MOD`` (so no mega-doc falls inside);
- two mega-docs (doc numbers that are multiples of ``MEGA_MOD``), taken
  from the block in order among those with 27k-33k spans. Mega-doc size
  is uniform over 10k-50k spans and one mega-doc is a whole task on the
  critical path, so an unbounded size would make run time depend mostly
  on which seed was drawn.

Every doc comes from ``datagen.gen_doc``, the per-doc function that
``datagen.spans_df(spark, n, start=...)`` maps over a window. The docs are
generated by a few worker processes (``python3 -m perfbench.corpus``, each
started and waited for here) and written with pyarrow, which takes a few
seconds where the Spark ``mapInPandas`` path takes several times as long;
the rows are the same.

The star-schema tables of the catalog probe come from
``tools/make_star_tier.build_tables`` at sf0.1 size. They do not depend on
the seed and are built once per work directory.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from docling_nlp_api_spark import datagen

SEED_BLOCKS = 1_000_000   # seeds are reduced modulo this many blocks
BLOCK = 64                # MEGA_MOD-sized strides per seed block
FIRST_BLOCK = 100         # start above the doc numbers of the sf0.1 fixture
NORMAL_WINDOWS = 2
NORMAL_FILES_PER_WINDOW = 4
MEGA_DOCS = 2
MEGA_SPANS = (27_000, 33_000)
# cached seeds kept on disk (~15 MB each), enough that a set of runs which
# repeats its seeds on the next workload generates each corpus once
KEEP_CORPORA = 32

SPAN_TYPE = pa.struct(
    [
        pa.field("kind", pa.string(), nullable=False),
        pa.field("text", pa.string(), nullable=False),
        pa.field("media_ref", pa.string(), nullable=False),
        pa.field("offset", pa.int32(), nullable=False),
        pa.field("bbox", pa.list_(pa.field("item", pa.float64(), nullable=False))),
    ]
)
SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(pa.field("element", SPAN_TYPE, nullable=False)), nullable=False),
    ]
)


def _mega_spans(num: int) -> int:
    """Span count datagen.gen_doc will give mega-doc `num`, from the same
    md5-seeded draws, without generating its text (0 for a media-only
    doc, whose span count ignores the drawn size)."""
    flavor = hashlib.md5(f"{datagen.SEED}:{num}:flavor".encode()).digest()[:4]
    if int.from_bytes(flavor, "little") % 100 >= 95:
        return 0
    return int(datagen._rs_for(num, "body").randint(10000, 50001))


def layout(seed: int) -> dict:
    """Doc numbers of the corpus for `seed`: ordinary windows and mega-docs."""
    block = FIRST_BLOCK + (seed % SEED_BLOCKS) * BLOCK
    strides = range(block, block + BLOCK)
    mod = datagen.MEGA_MOD
    windows = [(j * mod + 1, mod - 1) for j in strides[:NORMAL_WINDOWS]]
    lo, hi = MEGA_SPANS
    sized = [(j * mod, _mega_spans(j * mod)) for j in strides]
    mega = [num for num, n in sized if lo <= n <= hi][:MEGA_DOCS]
    if len(mega) < MEGA_DOCS:  # rare: fall back to the sizes nearest the band
        rest = sorted((abs(n - (lo + hi) // 2), num) for num, n in sized if num not in mega)
        mega += [num for _, num in rest[: MEGA_DOCS - len(mega)]]
    return {"windows": windows, "mega": sorted(mega)}


def _write_docs(nums: list[int], path: str) -> dict:
    rows = [datagen.gen_doc(num) for num in nums]
    table = pa.Table.from_pydict(
        {"doc_id": [r[0] for r in rows], "spans": [r[1] for r in rows]}, schema=SCHEMA
    )
    pq.write_table(table, path)
    return {"docs": len(rows), "spans": sum(len(r[1]) for r in rows)}


def _chunks(start: int, n: int, k: int) -> list[list[int]]:
    step = -(-n // k)
    return [list(range(s, min(s + step, start + n))) for s in range(start, start + n, step)]


def _start_worker(nums: list[int], path: str) -> subprocess.Popen:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return subprocess.Popen(
        [sys.executable, "-m", "perfbench.corpus", path, json.dumps(nums)],
        cwd=root, stdout=subprocess.PIPE, text=True,
    )


def _finish_worker(proc: subprocess.Popen) -> dict:
    out, _ = proc.communicate()
    if proc.returncode != 0:
        raise RuntimeError(f"corpus worker {proc.args[3]} exited with {proc.returncode}")
    return json.loads(out)


def _build(path: str, jobs: list[list[int]], procs: int) -> dict:
    """Write one parquet file per job, at most `procs` worker processes at a
    time; every worker is waited for, also when one fails."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    parts, running = [], []
    try:
        for i, nums in enumerate(jobs):
            if len(running) >= procs:
                parts.append(_finish_worker(running.pop(0)))
            running.append(_start_worker(nums, os.path.join(tmp, f"part-{i:03d}.parquet")))
        while running:
            parts.append(_finish_worker(running.pop(0)))
    finally:
        for proc in running:
            proc.kill()
            proc.wait()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return {"docs": sum(p["docs"] for p in parts), "spans": sum(p["spans"] for p in parts)}


def _bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path) if f.endswith(".parquet")
    )


def ensure_corpus(cache_dir: str, seed: int, procs: int) -> dict:
    """Corpus for `seed` under `cache_dir` (built on first use). Returns
    its description: path, docs, spans, mega-docs, bytes, doc numbers."""
    path = os.path.join(cache_dir, f"corpus-seed{seed}")
    meta_path = os.path.join(path, "_corpus.json")
    if not os.path.exists(meta_path):
        lay = layout(seed)
        # mega-docs first: each is the longest job, so starting them first
        # shortens the build
        jobs = [[num] for num in lay["mega"]]
        jobs += [c for s, n in lay["windows"] for c in _chunks(s, n, NORMAL_FILES_PER_WINDOW)]
        _evict(cache_dir)
        stats = _build(path, jobs, procs)
        meta = {
            "seed": seed,
            "docs": stats["docs"],
            "spans": stats["spans"],
            "mega_docs": len(lay["mega"]),
            "bytes": _bytes(path),
            "windows": lay["windows"],
            "mega": lay["mega"],
        }
        with open(meta_path, "w") as f:
            json.dump(meta, f)
    with open(meta_path) as f:
        meta = json.load(f)
    os.utime(meta_path)
    meta["path"] = path
    return meta


def ensure_warmup(cache_dir: str) -> str:
    """Fixed 256-doc corpus for the set-up warm-up pass, shared by all seeds."""
    path = os.path.join(cache_dir, "warmup")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _build(path, _chunks(1, 256, 4), procs=4)
        open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


def _evict(cache_dir: str) -> None:
    """Drop the least recently used corpora beyond KEEP_CORPORA - 1."""
    if not os.path.isdir(cache_dir):
        return
    found = []
    for name in os.listdir(cache_dir):
        meta = os.path.join(cache_dir, name, "_corpus.json")
        if name.startswith("corpus-seed") and os.path.exists(meta):
            found.append((os.path.getmtime(meta), name))
    for _, name in sorted(found)[: max(0, len(found) - (KEEP_CORPORA - 1))]:
        shutil.rmtree(os.path.join(cache_dir, name), ignore_errors=True)


def ensure_star(spark, cache_dir: str) -> str:
    """sf0.1-sized star-schema tables for the catalog queries."""
    path = os.path.join(cache_dir, "star_sf0.1")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, os.path.join(root, "tools"))
        try:
            from make_star_tier import build_tables
        finally:
            sys.path.pop(0)
        shutil.rmtree(path, ignore_errors=True)
        for name, df in build_tables(spark, 1).items():
            df.write.mode("overwrite").parquet(os.path.join(path, f"{name}.parquet"))
        open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


if __name__ == "__main__":
    # worker of _build: python3 -m perfbench.corpus OUT.parquet '[doc numbers]'
    print(json.dumps(_write_docs(json.loads(sys.argv[2]), sys.argv[1])))
