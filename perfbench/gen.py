"""Seeded input generators, one per workload.

The bundled sf0.1 ``documents`` table cannot drive the curation capstone:
``pretraining_run`` keeps 1 of its 5,000 documents (``curation.audit``:
c4_dropped 2,995, contaminated 1,239, gopher_quality 482,
gopher_repetition 200, duplicate 69, ppl_tail 7, sampled_out 7), so every
stage after the gates would run on one row. The meter tables exist only as
the 120-meter fixture. So the benchmark writes its own inputs, as
multi-file parquet, from a seed. The same seed gives byte-identical files.

Every generator returns a dict of input properties (rows, files, and the
shares the workload's behaviour depends on) for the run record.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# meter_etl: dim_yhcld + meter_readings (FIXTURES.md §B1/§B2 at scale)
# ---------------------------------------------------------------------------

METER_START = dt.date(2019, 5, 1)
METER_DAYS = 93  # [2019-05-01, 2019-08-01], the pipeline's compute window
METER_PREFIXES = 15
METERS_PER_PREFIX = 140
READING_FILES = 8

DIM_SCHEMA = pa.schema([
    ("gdfj_key", pa.string()),
    ("cldbs", pa.string()),
    ("yhbh", pa.string()),
    ("zhbl", pa.decimal128(18, 6)),
    ("dqbh", pa.int32()),
])
READINGS_SCHEMA = pa.schema([
    ("cldbs", pa.string()),
    ("sjsj", pa.date32()),
    ("zxygz", pa.decimal128(18, 4)),
    ("gddwbm", pa.string()),
    ("seq", pa.int64()),
])


def _write_files(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet")
        )


def meters(out_dir: str, seed: int) -> dict:
    """Write ``dim`` and ``readings`` parquet directories under ``out_dir``.

    Every FIXTURES.md edge case is embedded, keyed on ``meter % 10`` as in
    ``pipeline.fixtures``: NULL gdfj_key (1), NULL yhbh (2), NULL zhbl (3),
    blank yhbh (4), no readings at all (5), a rollover day (6), zero
    readings every third day (7), NULL readings every seventh day (8).
    About 3% of days are missing, 2% of readings arrive twice (the later
    arrival, by ``seq``, carries a different value and must lose), and
    orphan readings reference meters absent from the dim table.
    """
    rng = np.random.default_rng(seed)
    n = METER_PREFIXES * METERS_PER_PREFIX
    meter = np.arange(1, n + 1)
    kind = meter % 10
    pidx = (meter - 1) // METERS_PER_PREFIX + 1
    prefix = np.array([f"04{p:02d}" for p in range(1, METER_PREFIXES + 1)])[pidx - 1]
    cldbs = np.array([f"M{i:07d}" for i in meter], dtype=object)
    branch = rng.integers(100, 1000, n)
    gdfj = np.array([f"{p}X{b}" for p, b in zip(prefix, branch)], dtype=object)
    gdfj[kind == 1] = None
    yhbh = np.array([f"U{i:07d}" for i in meter], dtype=object)
    yhbh[kind == 2] = None
    yhbh[kind == 4] = "  "
    zhbl = rng.choice([1.0, 40.0, 80.0], n).astype(object)
    zhbl[kind == 3] = None
    dim = pa.table(
        {
            "gdfj_key": pa.array(gdfj, pa.string()),
            "cldbs": pa.array(cldbs, pa.string()),
            "yhbh": pa.array(yhbh, pa.string()),
            "zhbl": pa.array(zhbl, pa.float64()).cast(pa.decimal128(18, 6)),
            "dqbh": pa.array(40000 + pidx * 100, pa.int32()),
        },
        schema=DIM_SCHEMA,
    )

    # readings: one register series per meter that has any
    live = np.flatnonzero(kind != 5)
    n_live = live.size
    day = np.arange(METER_DAYS)
    base = rng.uniform(100, 10000, n_live)
    val = base[:, None] + np.cumsum(rng.uniform(0, 50, (n_live, METER_DAYS)), axis=1)
    lk = kind[live]
    roll = rng.integers(10, 80, n_live)
    is_roll = (lk == 6)[:, None] & (day[None, :] >= roll[:, None])
    at_roll = val[np.arange(n_live), roll]
    val = np.where(is_roll, val - (at_roll - base / 2)[:, None], val)
    val = np.round(val, 4)
    val[((lk == 7)[:, None]) & (day[None, :] % 3 == 0)] = 0.0
    null = ((lk == 8)[:, None]) & (day[None, :] % 7 == 0)
    present = rng.random((n_live, METER_DAYS)) >= 0.03
    mi, di = np.nonzero(present)
    values = val[mi, di]
    nulls = null[mi, di]
    dup = rng.random(mi.size) < 0.02
    # arrival order: each reading's seq is 2*k; a duplicate arrives right
    # after it (2*k+1) with a different value, so first-wins keeps the
    # original
    k = np.arange(mi.size)
    all_m = np.concatenate([mi, mi[dup]])
    all_d = np.concatenate([di, di[dup]])
    all_v = np.concatenate([values, values[dup] + 999.0])
    all_null = np.concatenate([nulls, nulls[dup]])
    all_seq = np.concatenate([2 * k, 2 * k[dup] + 1])
    n_orphan = max(30, n // 100)
    orphan_v = np.round(rng.uniform(1, 100, n_orphan), 4)
    orphan_d = rng.integers(0, METER_DAYS, n_orphan)
    r_cldbs = np.concatenate([
        cldbs[live][all_m],
        np.array([f"ORPHAN{i:05d}" for i in range(n_orphan)], dtype=object),
    ])
    r_prefix = np.concatenate([prefix[live][all_m], np.full(n_orphan, "0401")])
    unit = rng.integers(10, 100, r_cldbs.size)
    r_gddwbm = np.array([f"{p}D{u}" for p, u in zip(r_prefix, unit)], dtype=object)
    r_val = np.concatenate([all_v, orphan_v]).astype(object)
    r_val[np.flatnonzero(all_null)] = None
    r_day = np.concatenate([all_d, orphan_d]).astype("int32")
    r_seq = np.concatenate([all_seq, 2 * mi.size + np.arange(n_orphan)])
    # file order is not arrival order: shuffle rows across the files
    order = rng.permutation(r_cldbs.size)
    start_days = (METER_START - dt.date(1970, 1, 1)).days
    readings = pa.table(
        {
            "cldbs": pa.array(r_cldbs[order], pa.string()),
            "sjsj": pa.array(r_day[order] + start_days, pa.int32()).cast(pa.date32()),
            "zxygz": pa.array(r_val[order], pa.float64()).cast(pa.decimal128(18, 4)),
            "gddwbm": pa.array(r_gddwbm[order], pa.string()),
            "seq": pa.array(r_seq[order], pa.int64()),
        },
        schema=READINGS_SCHEMA,
    )
    _write_files(dim, os.path.join(out_dir, "dim"), 1)
    _write_files(readings, os.path.join(out_dir, "readings"), READING_FILES)
    return {
        "prefixes": METER_PREFIXES,
        "meters": n,
        "days": METER_DAYS,
        "dim_rows": dim.num_rows,
        "reading_rows": readings.num_rows,
        "reading_files": READING_FILES,
        "duplicate_share": round(float(dup.sum()) / readings.num_rows, 4),
        "orphan_rows": n_orphan,
    }


# ---------------------------------------------------------------------------
# curation_capstone: a documents corpus the curation gates do not empty
# ---------------------------------------------------------------------------

DOCS = 2000
DOC_FILES = 4
VOCAB_SIZE = 6000
ZIPF_S = 0.8  # rank exponent of the flattened Zipf word distribution
NEAR_DUP_SHARE = 0.10
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
_SYLLABLES = [
    c + v for c in "bcdfghjklmnprstvwz" for v in ("a", "e", "i", "o", "u", "ai", "ou")
]


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    words: set[str] = set(STOPWORDS)
    out: list[str] = []
    while len(out) < size:
        n_syl = int(rng.integers(2, 4))
        w = "".join(rng.choice(_SYLLABLES, n_syl))
        if w not in words:
            words.add(w)
            out.append(w)
    return np.array(out, dtype=object)


def documents(out_dir: str, seed: int) -> dict:
    """Write a ``documents.parquet`` directory under ``out_dir``.

    Pages are 3-8 lines of 6-14 words ending in a period, drawn from a
    flattened Zipf vocabulary (rank^-``ZIPF_S`` over ``VOCAB_SIZE``
    generated words) with Gopher stopwords mixed in, so most pages pass
    the C4 and Gopher gates on their merits. Fixed shares of pages are
    built to fail one gate each: unpunctuated fragments (C4), symbol
    runs (Gopher quality), a repeated line (Gopher repetition) and exact
    copies (dedup). ``NEAR_DUP_SHARE`` of pages copy an earlier page with
    one word changed per line, which survives exact dedup and reaches the
    MinHash/connected-components stage.
    """
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, VOCAB_SIZE)
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    p /= p.sum()

    # every word of the corpus in one draw; sentences take slices of it
    n_sent = DOCS * 8
    lengths = rng.integers(6, 15, n_sent)
    words = rng.choice(vocab, int(lengths.sum()), p=p)
    stop = rng.random(words.size) < 0.18
    words[stop] = np.array(STOPWORDS, dtype=object)[rng.integers(0, len(STOPWORDS), int(stop.sum()))]
    ends = np.cumsum(lengths)
    sentences = iter(
        " ".join(words[e - n:e]) + "." for n, e in zip(lengths.tolist(), ends.tolist())
    )

    kinds = rng.choice(
        ["clean", "c4", "quality", "repetition", "exact", "near"],
        DOCS,
        p=[0.70 - NEAR_DUP_SHARE, 0.08, 0.05, 0.05, 0.12, NEAR_DUP_SHARE],
    )
    kinds[0] = "clean"  # copies need an earlier page
    texts: list[str] = []
    for i, kind in enumerate(kinds):
        if kind in ("exact", "near"):
            src = texts[int(rng.integers(0, i))]
            if kind == "exact":
                texts.append(src)
                continue
            lines = []
            for line in src.split("\n"):
                ws = line.split(" ")
                j = int(rng.integers(0, len(ws) - 1))
                ws[j] = str(rng.choice(vocab))
                lines.append(" ".join(ws))
            texts.append("\n".join(lines))
            continue
        lines = [next(sentences) for _ in range(int(rng.integers(3, 9)))]
        if kind == "c4":
            lines = [" ".join(s.split(" ")[:3]) for s in lines]
        elif kind == "quality":
            lines = [s + " # # # ... ... #" * 3 for s in lines]
        elif kind == "repetition":
            lines = [lines[0]] * 8
        texts.append("\n".join(lines))
    source = rng.choice(["src0", "src1", "src2"], DOCS, p=[0.6, 0.25, 0.15])
    table = pa.table({
        "doc_id": pa.array(np.arange(DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * DOCS, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    _write_files(table, os.path.join(out_dir, "documents.parquet"), DOC_FILES)
    shares = {k: round(float((kinds == k).mean()), 4) for k in np.unique(kinds)}
    return {
        "doc_rows": DOCS,
        "doc_files": DOC_FILES,
        "vocab_size": VOCAB_SIZE,
        "near_dup_share": shares.get("near", 0.0),
        "kind_shares": shares,
    }


# ---------------------------------------------------------------------------
# ann_lifecycle: clustered vectors, ingest batches and queries
# ---------------------------------------------------------------------------


BASE_VECTORS = 10000
BASE_FILES = 4
INGEST_BATCHES = 3
INGEST_ROWS = 500
QUERIES = 256
DIM = 64
CENTRES = 64
NOISE_NORM = 1.05  # expected noise norm around a unit-norm centre
QUERY_ID_BASE = 1 << 40


def _vector_table(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1]), pa.int32())
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    })


def vectors(out_dir: str, seed: int) -> dict:
    """Write ``base``, ``batch_<i>`` and ``queries`` parquet directories.

    Vectors are unit-norm centres plus isotropic Gaussian noise of norm
    about ``NOISE_NORM``, so an IVF index over them has real cell
    structure. Ingest batches and queries come from the same distribution.
    Ids are disjoint across base, batches and queries.
    """
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(CENTRES, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)

    def draw(n: int) -> tuple[np.ndarray, np.ndarray]:
        lab = rng.integers(0, CENTRES, n)
        return centres[lab] + rng.normal(scale=NOISE_NORM / np.sqrt(DIM), size=(n, DIM)), lab

    v, lab = draw(BASE_VECTORS)
    _write_files(
        _vector_table(np.arange(BASE_VECTORS), v, lab), os.path.join(out_dir, "base"), BASE_FILES
    )
    for b in range(INGEST_BATCHES):
        v, lab = draw(INGEST_ROWS)
        ids = BASE_VECTORS + b * INGEST_ROWS + np.arange(INGEST_ROWS)
        _write_files(_vector_table(ids, v, lab), os.path.join(out_dir, f"batch_{b}"), 1)
    # query ids must not collide with corpus ids: the probe skips a
    # neighbour whose id equals the query's (the self-match)
    v, lab = draw(QUERIES)
    _write_files(
        _vector_table(QUERY_ID_BASE + np.arange(QUERIES), v, lab),
        os.path.join(out_dir, "queries"),
        1,
    )
    return {
        "base_rows": BASE_VECTORS,
        "base_files": BASE_FILES,
        "ingest_batches": INGEST_BATCHES,
        "batch_rows": INGEST_ROWS,
        "query_rows": QUERIES,
        "dim": DIM,
        "centres": CENTRES,
    }
