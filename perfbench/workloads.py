"""The two benchmark workloads, ``meter_etl`` and ``curation_ann``.

Each workload has a batch operation (raw input files to final output,
fully materialized, returning an order-independent digest of the output)
and a serving read (one point read of the batch's output, returning the
share of its exact answer it returned). Every call into a layer of
``learn_hbase_spark`` is wrapped in a span named ``<module>.<function>``;
spans and seams are no-ops unless the tracer is enabled.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

import gen
from spans import Tracer


def _row_digest(lines) -> str:
    """Order-independent digest of an iterable of row strings."""
    acc, n = 0, 0
    for line in lines:
        acc = (acc + int.from_bytes(hashlib.md5(line.encode()).digest()[:8], "little")) % (1 << 64)
        n += 1
    return f"{n}:{acc:016x}"


def _table_digest(table: pa.Table) -> str:
    cols = [c.to_pylist() for c in table.columns]
    return _row_digest("|".join(map(repr, row)) for row in zip(*cols))


# ---------------------------------------------------------------------------
# meter_etl
# ---------------------------------------------------------------------------

FAMILIES = ["info", "bmz", "rdl"]


def _info_cells(dim_loaded):
    return dim_loaded.selectExpr(
        "rowkey",
        "'info' AS family",
        "stack(2, 'yhbh', yhbh, 'zhbl', CAST(zhbl AS STRING)) AS (qualifier, value)",
    )


def _day_cells(long_df, family: str, col: str):
    # a NULL reading is written as "" (the reference's X7 rendering); a
    # NULL cell value would read as a delete tombstone
    return long_df.select(
        "rowkey",
        F.lit(family).alias("family"),
        F.date_format("rd_date", "yyyyMMdd").alias("qualifier"),
        F.coalesce(F.col(col).cast("string"), F.lit("")).alias("value"),
    )


def _dim_from_cells(cells):
    info = cells.filter(F.col("family") == "info")
    return info.groupBy("rowkey").agg(
        F.max(F.when(F.col("qualifier") == "yhbh", F.col("value"))).alias("yhbh"),
        F.max(F.when(F.col("qualifier") == "zhbl", F.col("value"))).alias("zhbl"),
    )


def _long_from_cells(cells, family: str, col: str):
    return cells.filter(F.col("family") == family).select(
        "rowkey",
        F.to_date("qualifier", "yyyyMMdd").alias("rd_date"),
        F.when(F.col("value") == "", None)
        .otherwise(F.col("value").cast("double"))
        .alias(col),
    )


def meter_etl_composition(spark, tr: Tracer, dim_path: str, readings_path: str, out: str):
    """The reference pipeline with every stage handing off through a
    WideTable (families ``info``/``bmz``/``rdl``, like ``fact_rdl_bmz``).
    Writes the wide CSV under ``out/csv`` and returns the export frame."""
    from learn_hbase_spark.pipeline import rdl
    from learn_hbase_spark.sources import csv_sink
    from learn_hbase_spark.widetable import WideTable

    dim = spark.read.parquet(dim_path)
    readings = spark.read.parquet(readings_path)
    wt = WideTable.create(spark, os.path.join(out, "wt"), FAMILIES, overwrite=True)

    # stage 1: dim + readings load, info and bmz cells put
    with tr.span("rdl.load_dim"):
        dim_loaded = tr.seam(rdl.load_dim(dim))
    with tr.span("rdl.load_readings") as s:
        bmz_long = tr.seam(rdl.load_readings(dim_loaded, readings))
    if s is not None:
        s.rows_out = bmz_long.count()
    with tr.span("widetable.put"):
        wt.put(_info_cells(dim_loaded).unionByName(_day_cells(bmz_long, "bmz", "bmz")))

    # stage 2: scan info + bmz, compute daily consumption, put rdl cells
    with tr.span("widetable.scan"):
        cells2 = tr.seam(wt.scan(families=["info", "bmz"]))
    with tr.span("rdl.compute_rdl"):
        rdl_long = tr.seam(
            rdl.compute_rdl(_dim_from_cells(cells2), _long_from_cells(cells2, "bmz", "bmz"))
        )
    with tr.span("widetable.put"):
        wt.put(_day_cells(rdl_long, "rdl", "rdl"))

    # stage 3: scan info + rdl, pivot, write the wide CSV. The date spine
    # gives every meter with a loaded reading a full row of rdl cells, so
    # the rdl rowkeys are exactly the DATA-marker set export_wide expects.
    with tr.span("widetable.scan"):
        cells3 = tr.seam(wt.scan(families=["info", "rdl"]))
    rdl3 = _long_from_cells(cells3, "rdl", "rdl")
    with tr.span("rdl.export_wide"):
        wide = tr.seam(rdl.export_wide(_dim_from_cells(cells3), rdl3.select("rowkey"), rdl3))
    with tr.span("csv_sink.write_csv"):
        csv_sink.write_csv(
            csv_sink.with_export_prefix(wide).drop("rowkey"),
            os.path.join(out, "csv"),
            partition_by="prefix",
        )
    return wt, wide


def _csv_digest(csv_dir: str) -> str:
    def lines():
        for prefix_dir in sorted(os.listdir(csv_dir)):
            sub = os.path.join(csv_dir, prefix_dir)
            if not os.path.isdir(sub):
                continue
            for name in sorted(os.listdir(sub)):
                if not name.endswith(".csv"):
                    continue
                with open(os.path.join(sub, name), encoding="utf-8") as fh:
                    next(fh, None)  # header
                    for line in fh:
                        yield prefix_dir + "/" + line

    return _row_digest(lines())


class MeterEtl:
    """Reference meter pipeline through a WideTable, then point gets."""

    name = "meter_etl"
    min_serves = 20
    n_gets = 64  # distinct seeded rowkeys the serving phase cycles through

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.inp = os.path.join(work, "in")

    def generate(self) -> dict:
        return gen.meters(self.inp, self.seed)

    def open(self, spark) -> None:
        self.spark = spark
        self.out = os.path.join(self.work, "out")
        # seeded rowkeys of meters that survive the load (F2)
        dim = pq.read_table(os.path.join(self.inp, "dim")).to_pylist()
        keys = sorted(
            f"{r['gdfj_key']}_{r['cldbs']}"
            for r in dim
            if r["gdfj_key"] is not None and r["yhbh"] is not None and r["zhbl"] is not None
        )
        rng = np.random.default_rng(self.seed)
        self.rowkeys = [keys[i] for i in rng.choice(len(keys), self.n_gets, replace=False)]
        # the export keeps loaded meters with a reading and a non-blank yhbh
        read = set(pq.read_table(os.path.join(self.inp, "readings"), columns=["cldbs"]).column(0).to_pylist())
        self.export_rows = sum(
            1 for r in dim
            if r["gdfj_key"] is not None and r["zhbl"] is not None
            and (r["yhbh"] or "").strip() and r["cldbs"] in read
        )

    def batch(self, tr: Tracer) -> str:
        self.wt, _ = meter_etl_composition(
            self.spark, tr,
            os.path.join(self.inp, "dim"), os.path.join(self.inp, "readings"), self.out,
        )
        digest = _csv_digest(os.path.join(self.out, "csv"))
        rows = int(digest.split(":")[0])
        if rows != self.export_rows:
            raise AssertionError(f"export has {rows} rows, expected {self.export_rows}")
        return digest

    def prepare_serving(self) -> None:
        """Expected cells of every served rowkey, from one range scan."""
        self.expected: dict[str, set] = {k: set() for k in self.rowkeys}
        for r in self.wt.scan().filter(F.col("rowkey").isin(self.rowkeys)).collect():
            self.expected[r["rowkey"]].add((r["family"], r["qualifier"], r["value"]))

    def serve(self, tr: Tracer, i: int) -> float:
        key = self.rowkeys[i % len(self.rowkeys)]
        with tr.span("widetable.get"):
            got = {(r["family"], r["qualifier"], r["value"]) for r in self.wt.get(key).collect()}
        want = self.expected[key]
        if got - want:
            raise AssertionError(f"get({key}) returned cells the scan does not hold")
        return len(got & want) / len(want)

    def fixture_check(self) -> list[str]:
        """At fixture size the WideTable-handoff composition must equal
        ``fixtures.golden_export`` cell by cell."""
        from learn_hbase_spark.pipeline import fixtures

        fx = fixtures.generate()
        d = os.path.join(self.work, "fixture")
        gen._write_files(pa.Table.from_pylist(fx.dim_rows, gen.DIM_SCHEMA), os.path.join(d, "dim"), 1)
        gen._write_files(
            pa.Table.from_pylist(fx.reading_rows, gen.READINGS_SCHEMA), os.path.join(d, "readings"), 2
        )
        _, wide = meter_etl_composition(
            self.spark, Tracer(self.spark, False),
            os.path.join(d, "dim"), os.path.join(d, "readings"), os.path.join(d, "out"),
        )
        rows = {r["rowkey"]: r.asDict() for r in wide.collect()}
        golden = fixtures.golden_export(fx)
        errors = []
        if set(rows) != set(golden):
            errors.append(f"fixture meter set differs: {len(rows)} vs {len(golden)} rows")
        for key in set(rows) & set(golden):
            for col, want in golden[key].items():
                have = rows[key][col]
                if col == "YHBH" or want is None or have is None:
                    ok = have == want
                else:
                    ok = math.isclose(float(have), want, rel_tol=1e-9)
                if not ok:
                    errors.append(f"fixture {key}/{col}: {have!r} != {want!r}")
                    break
        return errors[:5]

    def describe(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# curation_ann: the curation capstone, then the ANN lifecycle
# ---------------------------------------------------------------------------

# pretraining_run's curation settings (queries.pretraining_run), restated
# for the audit and the traced composition
CURATE_KW = dict(
    min_tokens=5,
    rates={"src0": 1.0, "src1": 0.5, "src2": 0.25},
    default_rate=0.1,
    c4_clean=True,
    c4_kwargs={"min_words_per_line": 5, "min_lines": 2},
    gopher_quality=True,
    gopher_quality_kwargs={"min_words": 10, "min_stopwords": 1},
    gopher_repetition=True,
    gopher_repetition_kwargs={"widths": (2, 3, 4, 9)},
    ccnet_keep=("head", "middle"),
)


def _capstone_inputs(spark, sf_dir: str):
    from learn_hbase_spark import tables

    raw = tables.load_table(spark, sf_dir, "documents")
    docs = raw.select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" table "), F.lit(".\n")).alias("text"),
        "source",
    )
    return docs, raw.filter(F.col("doc_id") % 97 == 0)


def traced_pretraining_run(spark, tr: Tracer, sf_dir: str):
    """``queries.pretraining_run``'s body with a span around each library
    call. Its output digest must equal the registry query's, which catches
    this copy drifting from the registry body."""
    from pyspark.sql import Window

    from learn_hbase_spark.operators import chunking, dedup, graph, packing, tokenizer
    from learn_hbase_spark.pipeline import curation
    from learn_hbase_spark.queries import _BPE_FIXED_MERGES

    docs, bench = _capstone_inputs(spark, sf_dir)
    with tr.span("curation.curate_docs") as s:
        mixed = curation.curate_docs(docs, bench, **CURATE_KW).localCheckpoint()
    if s is not None:
        s.rows_out = mixed.count()
    with tr.span("dedup.minhash_bucket_pairs"):
        pairs = tr.seam(dedup.minhash_bucket_pairs(mixed, "text", "doc_id", num_hashes=8, bands=4))
    with tr.span("graph.connected_components"):
        clusters = tr.seam(
            graph.connected_components(mixed.select("doc_id"), pairs, node_col="doc_id")
        )
    w = Window.partitionBy("cluster_id").orderBy(F.length("text").desc(), F.col("doc_id"))
    cdocs = (
        clusters.join(mixed.select("doc_id", "text"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.translate("text", "|", "").alias("text"))
    )
    with tr.span("chunking.chunk_words"):
        chunks = tr.seam(
            chunking.chunk_words(cdocs, "text", "doc_id", chunk_size=64, overlap=16).withColumn(
                "cuid", F.col("doc_id") * F.lit(1_000_000) + F.col("chunk_id")
            )
        )
    with tr.span("tokenizer.bpe_encode"):
        tok = tr.seam(
            tokenizer.bpe_encode(
                chunks.select("cuid", "chunk_text"), _BPE_FIXED_MERGES,
                text_col="chunk_text", id_col="cuid",
            ).select("cuid", "n_tokens")
        )
    with tr.span("packing.pack_sequences"):
        addressed = tr.seam(
            packing.pack_sequences(
                chunks.select("cuid").join(tok, "cuid"), "cuid", F.col("n_tokens"), budget=64
            )
        )
    return (
        chunks.select("doc_id", "chunk_id", "cuid")
        .join(tok, "cuid")
        .join(addressed, "cuid")
        .select("doc_id", "chunk_id", "n_tokens", "pack_group", "seq_id")
    )


class Curation:
    """``pretraining_run`` (called through ``queries()``) on a generated
    corpus, written as parquet."""

    def __init__(self, inp: str, out: str, seed: int):
        self.inp, self.out, self.seed = inp, out, seed

    def generate(self) -> dict:
        return gen.documents(self.inp, self.seed)

    def open(self, spark) -> None:
        from learn_hbase_spark.queries import queries

        self.spark = spark
        self.query = queries()["pretraining_run"]

    def batch(self, tr: Tracer) -> str:
        if tr.enabled:
            result = traced_pretraining_run(self.spark, tr, self.inp)
        else:
            result = self.query(self.spark, self.inp)
        result.write.mode("overwrite").parquet(self.out)
        output = pq.read_table(self.out)
        # packing invariant: a sequence over the 64-token budget holds one chunk
        seqs: dict[tuple, list[int]] = {}
        for r in output.select(["pack_group", "seq_id", "n_tokens"]).to_pylist():
            acc = seqs.setdefault((r["pack_group"], r["seq_id"]), [0, 0])
            acc[0] += r["n_tokens"]
            acc[1] += 1
        if not seqs:
            raise AssertionError("pretraining_run kept no chunks")
        if any(tokens > 64 and chunks > 1 for tokens, chunks in seqs.values()):
            raise AssertionError("a packed sequence exceeds the 64-token budget")
        return _table_digest(output)

    def describe(self) -> dict:
        """Count per ``curation.audit`` verdict on the generated corpus."""
        from learn_hbase_spark.pipeline import curation

        docs, bench = _capstone_inputs(self.spark, self.inp)
        audit = curation.audit(docs, bench, **CURATE_KW).groupBy("verdict").count()
        return {"audit_verdicts": {r["verdict"]: r["count"] for r in audit.collect()}}


ANN_KW = dict(nlist=64, m=8, k_codes=64)
NPROBE, TOPK = 8, 10


class AnnLifecycle:
    """IVF-PQ artifact lifecycle: ``freeze_ivf_pq`` →
    ``ann_index_ingest_batch`` ×3 → a probe over base plus deltas →
    ``compact_ivf_pq``; serving reads probe the compacted artifact."""

    queries_per_batch = 32
    n_query_batches = gen.QUERIES // queries_per_batch

    def __init__(self, inp: str, art: str, seed: int):
        self.inp, self.art, self.seed = inp, art, seed

    def generate(self) -> dict:
        return gen.vectors(self.inp, self.seed)

    def open(self, spark) -> None:
        self.spark = spark
        p = lambda name: os.path.join(self.inp, name)  # noqa: E731
        self.base = spark.read.parquet(p("base"))
        self.ingest = [spark.read.parquet(p(f"batch_{b}")) for b in range(gen.INGEST_BATCHES)]
        queries_df = spark.read.parquet(p("queries"))
        qb = self.queries_per_batch
        self.query_batches = [
            queries_df.filter(
                (F.col("vec_id") >= gen.QUERY_ID_BASE + i * qb)
                & (F.col("vec_id") < gen.QUERY_ID_BASE + (i + 1) * qb)
            )
            for i in range(self.n_query_batches)
        ]
        # exact top-k by numpy brute force over base + every ingested batch
        corpus = pa.concat_tables(
            [pq.read_table(p("base"))] + [pq.read_table(p(f"batch_{b}")) for b in range(gen.INGEST_BATCHES)]
        )
        ids = corpus.column("vec_id").to_numpy()
        x = np.stack(corpus.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        qt = pq.read_table(p("queries"))
        q = np.stack(qt.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        d = (x * x).sum(1)[None, :] - 2 * q @ x.T
        top = np.argsort(d, axis=1)[:, :TOPK]
        self.exact = {
            int(qid): set(ids[top[i]].tolist())
            for i, qid in enumerate(qt.column("vec_id").to_pylist())
        }

    def batch(self, tr: Tracer) -> str:
        from learn_hbase_spark.operators import similarity

        with tr.span("similarity.freeze_ivf_pq"):
            similarity.freeze_ivf_pq(self.base, self.art, src_fingerprint="base", **ANN_KW)
        for b, frame in enumerate(self.ingest):
            with tr.span("similarity.ann_index_ingest_batch"):
                similarity.ann_index_ingest_batch(frame, b, self.art)
        with tr.span("similarity.ivf_pq_topk_frozen"):
            rows = self._probe(self.query_batches[0])
        with tr.span("similarity.compact_ivf_pq"):
            similarity.compact_ivf_pq(self.spark, self.art)
        self.batch_recall = self.recall(rows)
        return _row_digest(
            f"{r['query_id']}|{r['neighbor_id']}|{r['rank']}|{r['dist']!r}" for r in rows
        )

    def _probe(self, frame) -> list:
        from learn_hbase_spark.operators import similarity

        rows = similarity.ivf_pq_topk_frozen(frame, self.art, nprobe=NPROBE, k=TOPK).collect()
        if len({r["query_id"] for r in rows}) != self.queries_per_batch:
            raise AssertionError("probe batch did not answer every query")
        return rows

    def recall(self, rows) -> float:
        """Mean overlap of each query's top-10 with the exact top-10."""
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return float(np.mean([len(ids & self.exact[q]) / TOPK for q, ids in got.items()]))

    def serve(self, tr: Tracer, i: int) -> float:
        with tr.span("similarity.ivf_pq_topk_frozen"):
            rows = self._probe(self.query_batches[i % self.n_query_batches])
        return self.recall(rows)


class CurationAnn:
    """The curation capstone, then the ANN lifecycle, as one batch; frozen
    probe batches as serving reads."""

    name = "curation_ann"
    min_serves = 5

    def __init__(self, work: str, seed: int):
        self.inp = os.path.join(work, "in")
        self.curation = Curation(
            os.path.join(self.inp, "documents"), os.path.join(work, "curated"), seed
        )
        self.ann = AnnLifecycle(
            os.path.join(self.inp, "vectors"), os.path.join(work, "artifact"), seed
        )

    def generate(self) -> dict:
        return {**self.curation.generate(), **self.ann.generate()}

    def open(self, spark) -> None:
        self.curation.open(spark)
        self.ann.open(spark)

    def batch(self, tr: Tracer) -> str:
        curated = self.curation.batch(tr)
        probed = self.ann.batch(tr)
        self.batch_recall = self.ann.batch_recall
        return f"{curated}/{probed}"

    def prepare_serving(self) -> None:
        pass

    def serve(self, tr: Tracer, i: int) -> float:
        return self.ann.serve(tr, i)

    def fixture_check(self) -> list[str]:
        return []

    def describe(self) -> dict:
        return self.curation.describe()


WORKLOADS = {w.name: w for w in (MeterEtl, CurationAnn)}
