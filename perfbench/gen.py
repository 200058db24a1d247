"""Seeded input generators for the benchmark workloads.

Each generator is a pure function of its seed: it writes parquet inputs
plus a ``truth.npz`` of exact answers into a directory keyed by workload
and seed, and marks the directory complete with a ``DONE`` file so a
later run with the same seed reuses it.  The program under test only
ever sees the parquet files; the checker reads the truth.

Shapes are fixed, the seed draws the contents:

* ``scan_build``: a fact table with 8 groups whose distinct-key counts
  straddle the theta/HLL/CPC nominal size (two groups in exact mode, six
  in estimation mode).  The key universe of each group is fixed, so the
  distinct counts are known exactly and do not depend on the seed; the
  seed draws multiplicities, row order, NULL positions, the lognormal
  doubles and the zipf strings.  Half of the files carry ~2% NULL keys
  and half none, so both the null-bearing (float64) and clean (int64)
  Arrow batch paths run.
* ``sketch_store``: per-day event files over a thousand segments with
  zipf-distributed sizes, so most (day, segment) sketches are tiny and a
  few are past the theta nominal size.  Segment user ranges overlap so
  theta intersections between neighbouring segments are non-empty.  As
  in ``scan_build`` the distinct sets are fixed and the seed draws the
  values, multiplicities' order and row order.
* ``dedup_pipeline``: a text corpus over a random-letter vocabulary with
  ~1/rank word frequencies, with planted exact duplicates, planted
  near-duplicates (~3% token edits), and documents that leak a passage
  from a held-out benchmark set.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- scan_build

SCAN_ROWS = 1_000_000
SCAN_FILES = 8
# distinct keys per group; theta/HLL/CPC run at lg_k=11 (k=2048), so the
# first two groups stay in exact mode and the rest are estimated
SCAN_DISTINCT = (700, 1_500, 10_000, 25_000, 50_000, 100_000, 150_000, 200_000)
SCAN_VOCAB = 20_000
SCAN_TOP_ITEMS = 3

# -------------------------------------------------------------- sketch_store

STORE_SEGMENTS = 1_000
STORE_INPUT_DAYS = 6  # day d ingests input file d % STORE_INPUT_DAYS
STORE_ROWS_PER_DAY = 60_000
STORE_FILES_PER_DAY = 2
STORE_USER_STRIDE = 40  # segment s draws users from [40*s, 40*s + pool)

# ------------------------------------------------------------ dedup_pipeline

DEDUP_ORIGINALS = 900
DEDUP_EXACT = 30  # planted exact copies
DEDUP_NEAR = 30  # planted near-duplicate copies
DEDUP_LEAKED = 20  # originals that receive a benchmark passage
DEDUP_BENCH = 40
DEDUP_VOCAB = 5_000
DEDUP_EDIT_SHARE = 0.03
DEDUP_PASSAGE = 16  # tokens copied from a benchmark document


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "DONE"))


def _finish(tmp: str, path: str) -> str:
    with open(os.path.join(tmp, "DONE"), "w") as fh:
        fh.write("ok\n")
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def _fresh(path: str) -> str:
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def scan_build(root: str, seed: int) -> str:
    """Write the scan_build fact table for ``seed``; return its directory."""
    path = os.path.join(root, f"scan_build-s{seed}")
    if _done(path):
        return path
    tmp = _fresh(path)
    rng = np.random.default_rng([seed, 1])
    distinct = np.array(SCAN_DISTINCT, dtype=np.int64)
    ngroups = distinct.size
    n_extra = SCAN_ROWS - int(distinct.sum())
    # every universe key appears at least once, so the distinct set per
    # group is exactly the universe whatever the seed draws
    base_g = np.repeat(np.arange(ngroups), distinct)
    base_i = np.concatenate([np.arange(d) for d in distinct])
    extra_g = rng.choice(ngroups, size=n_extra, p=distinct / distinct.sum())
    # skewed multiplicities: low key indices repeat more often
    extra_i = (rng.random(n_extra) ** 2 * distinct[extra_g]).astype(np.int64)
    g = np.concatenate([base_g, extra_g])
    idx = np.concatenate([base_i, extra_i])
    is_extra = np.concatenate([np.zeros(base_g.size, bool), np.ones(n_extra, bool)])
    order = rng.permutation(SCAN_ROWS)
    g, idx, is_extra = g[order], idx[order], is_extra[order]
    key = g * 10**12 + idx * 7919
    # NULL keys only on repeated draws and only in the first half of the
    # files, so the universe survives and clean files keep int64 batches
    first_half = np.arange(SCAN_ROWS) < SCAN_ROWS // 2
    null = is_extra & first_half & (rng.random(SCAN_ROWS) < 0.02)
    value = rng.lognormal(mean=0.1 * g, sigma=1.0)
    vocab = np.array([f"item{r:05d}" for r in range(SCAN_VOCAB)], dtype=object)
    rank = np.minimum(rng.zipf(1.3, SCAN_ROWS), SCAN_VOCAB) - 1
    per_file = SCAN_ROWS // SCAN_FILES
    os.makedirs(os.path.join(tmp, "fact"))
    for f in range(SCAN_FILES):
        sl = slice(f * per_file, (f + 1) * per_file)
        table = pa.table(
            {
                "g": pa.array(g[sl].astype(np.int32)),
                "key": pa.array(key[sl], mask=null[sl]),
                "value": pa.array(value[sl]),
                "item": pa.array(vocab[rank[sl]], type=pa.string()),
            }
        )
        pq.write_table(table, os.path.join(tmp, "fact", f"part-{f:02d}.parquet"))
    # truth: sorted values per group (ranks), exact top items per group
    val_sorted, val_off = [], [0]
    top_items, top_counts = [], []
    for grp in range(ngroups):
        m = g == grp
        v = np.sort(value[m])
        val_sorted.append(v)
        val_off.append(val_off[-1] + v.size)
        counts = np.bincount(rank[m], minlength=SCAN_VOCAB)
        top = np.argsort(-counts, kind="stable")[:SCAN_TOP_ITEMS]
        top_items.append(top)
        top_counts.append(counts[top])
    np.savez(
        os.path.join(tmp, "truth.npz"),
        distinct=distinct,
        rows=np.bincount(g, minlength=ngroups),
        values=np.concatenate(val_sorted),
        value_offsets=np.array(val_off),
        top_items=np.array(top_items),
        top_counts=np.array(top_counts),
        nulls=np.array([int(null.sum())]),
    )
    return _finish(tmp, path)


def store_segment_rows() -> np.ndarray:
    """Rows per segment per day: zipf sizes, at least one row each."""
    r = np.arange(1, STORE_SEGMENTS + 1, dtype=np.float64) ** -1.1
    return np.maximum(1, np.round(r * STORE_ROWS_PER_DAY / r.sum())).astype(np.int64)


def sketch_store(root: str, seed: int) -> str:
    """Write the per-day event inputs for sketch_store; return the directory."""
    path = os.path.join(root, f"sketch_store-s{seed}")
    if _done(path):
        return path
    tmp = _fresh(path)
    rng = np.random.default_rng([seed, 2])
    rows = store_segment_rows()
    seg = np.repeat(np.arange(STORE_SEGMENTS, dtype=np.int64), rows)
    pool = np.maximum(2, 2 * rows)[seg]
    truth: dict[str, np.ndarray] = {}
    for day in range(STORE_INPUT_DAYS):
        # the user sets do not depend on the seed, so every distinct-count
        # answer (stored, rolled up, intersected) is checked against the
        # same truth on every seed; the seed draws values and row order
        users = np.random.default_rng([0, 2, day])
        user = STORE_USER_STRIDE * seg + (users.random(seg.size) * pool).astype(np.int64)
        value = rng.lognormal(mean=1.0, sigma=0.8, size=seg.size)
        order = rng.permutation(seg.size)
        s, u, v = seg[order], user[order], value[order]
        ddir = os.path.join(tmp, f"day{day}")
        os.makedirs(ddir)
        for f, sl in enumerate(np.array_split(np.arange(seg.size), STORE_FILES_PER_DAY)):
            table = pa.table(
                {
                    "segment": pa.array(s[sl].astype(np.int32)),
                    "user_id": pa.array(u[sl]),
                    "value": pa.array(v[sl]),
                }
            )
            pq.write_table(table, os.path.join(ddir, f"part-{f}.parquet"))
        # distinct (segment, user) pairs and per-segment sorted values
        pairs = np.unique(seg * (1 << 32) + user)
        truth[f"pairs{day}"] = pairs
        o = np.lexsort((value, seg))
        truth[f"values{day}"] = value[o]
    truth["rows"] = rows
    np.savez(os.path.join(tmp, "truth.npz"), **truth)
    return _finish(tmp, path)


def _vocabulary(rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < DEDUP_VOCAB:
        n = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, n)))
    vocab = np.array(sorted(words), dtype=object)
    rng.shuffle(vocab)
    p = 1.0 / np.arange(1, DEDUP_VOCAB + 1)
    return vocab, p / p.sum()


def dedup_pipeline(root: str, seed: int) -> str:
    """Write the corpus, benchmark set and planted-pair truth; return the dir."""
    path = os.path.join(root, f"dedup_pipeline-s{seed}")
    if _done(path):
        return path
    tmp = _fresh(path)
    rng = np.random.default_rng([seed, 3])
    vocab, p = _vocabulary(rng)

    def doc() -> list[str]:
        return list(rng.choice(vocab, int(rng.integers(60, 140)), p=p))

    originals = [doc() for _ in range(DEDUP_ORIGINALS)]
    bench = [doc() for _ in range(DEDUP_BENCH)]
    # disjoint roles among originals: copied exactly, copied with edits,
    # receives a leaked benchmark passage, or untouched
    roles = rng.permutation(DEDUP_ORIGINALS)
    exact_src = roles[:DEDUP_EXACT]
    near_src = roles[DEDUP_EXACT : DEDUP_EXACT + DEDUP_NEAR]
    leaked = roles[DEDUP_EXACT + DEDUP_NEAR : DEDUP_EXACT + DEDUP_NEAR + DEDUP_LEAKED]
    # each leaked document takes its passage from a different benchmark
    # document, so no passage repeats inside the corpus
    for i, j in zip(leaked, rng.permutation(DEDUP_BENCH)):
        b = bench[int(j)]
        start = int(rng.integers(0, len(b) - DEDUP_PASSAGE))
        at = int(rng.integers(0, len(originals[i])))
        originals[i][at:at] = b[start : start + DEDUP_PASSAGE]
    texts = [" ".join(t) for t in originals]
    partner = {}  # copy index -> source index
    for i in exact_src:
        partner[len(texts)] = int(i)
        texts.append(texts[i])
    for i in near_src:
        toks = list(originals[i])
        n_edit = max(2, int(round(DEDUP_EDIT_SHARE * len(toks))))
        for pos in rng.choice(len(toks), n_edit, replace=False):
            new = toks[pos]
            while new == toks[pos]:
                new = vocab[int(rng.choice(DEDUP_VOCAB, p=p))]
            toks[pos] = new
        partner[len(texts)] = int(i)
        texts.append(" ".join(toks))
    # doc ids are a seeded permutation, so a copy may sort before its source
    ids = rng.permutation(len(texts)).astype(np.int64) * 3 + 11
    pq.write_table(
        pa.table({"doc_id": pa.array(ids), "text": pa.array(texts, type=pa.string())}),
        os.path.join(tmp, "corpus.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(DEDUP_BENCH, dtype=np.int64)),
                "text": pa.array([" ".join(b) for b in bench], type=pa.string()),
            }
        ),
        os.path.join(tmp, "bench.parquet"),
    )
    copies = np.array(sorted(partner), dtype=np.int64)
    sources = np.array([partner[c] for c in copies], dtype=np.int64)
    np.savez(
        os.path.join(tmp, "truth.npz"),
        ids=ids,
        copy_ids=ids[copies],
        source_ids=ids[sources],
        exact=np.array([c < len(originals) + DEDUP_EXACT for c in copies]),
        leaked_ids=ids[leaked],
    )
    return _finish(tmp, path)


GENERATORS = {
    "scan_build": scan_build,
    "sketch_store": sketch_store,
    "dedup_pipeline": dedup_pipeline,
}
