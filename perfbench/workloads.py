"""The benchmark workloads: inputs, one operation, its output check, and
a traced twin of the operation that runs each layer under its own span.

Every operation calls the package's public functions only. Output checks
run outside the timed region and return a list of problems (empty when
the output is correct).
"""

from __future__ import annotations

import contextlib
import gc
import glob
import hashlib
import os
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen

#: DimDate covers this range in the pipeline's default call
DATE_RANGE = ("2018-01-01", "2024-12-31")
DIM_DATE_ROWS = 2557
DIM_TIME_ROWS = 86400


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) of the parquet/CSV part files under ``path``."""
    files = [
        f
        for f in glob.glob(os.path.join(path, "**", "part-*"), recursive=True)
        if not f.endswith(".crc")
    ]
    return sum(os.path.getsize(f) for f in files), len(files)


#: the pipeline's dims, in the argument order of build_fact_crime
DIMS = ("DimDate", "DimTime", "DimLocation", "DimIncident", "DimReportType")
FACT_FKS = (
    "IncidentDateID", "IncidentTimeID", "ReportDateID", "ReportTimeID",
    "LocationID", "IncidentID", "ReportTypeID",
)


class Workload:
    name = ""
    uses_python = False
    #: untimed warm-up operations on inputs a tenth the size
    warm_ops = 1

    def __init__(self, work_dir: str, seed: int, scale: float = 1.0):
        """``scale`` shrinks the inputs; the warm-up runs at 0.1."""
        self.work = work_dir
        self.seed = seed
        self.scale = scale
        #: input rows one operation processes (rows_per_s counts these)
        self.items = 0
        self.first_outputs = None

    def shape(self) -> dict:
        """Input size fields that must match for two runs to compare."""
        raise NotImplementedError

    def check(self, outputs) -> list[str]:
        """Problems with one operation's outputs; repeated outputs must
        equal the first operation's."""
        problems = self._check(outputs)
        stable = self._stable(outputs)
        if self.first_outputs is None:
            self.first_outputs = stable
        elif stable != self.first_outputs:
            problems.append(f"output differs from the first operation: {stable} != {self.first_outputs}")
        return problems


class EltRefresh(Workload):
    """The paper's daily DAG: pipe-delimited staging CSV -> load-order
    ids -> 5 dims + the 7-join fact -> serve query -> parquet tables."""

    name = "elt_refresh"
    #: the first full refresh after one small one runs 15-25% slower than
    #: the next, on a part of the JIT's warm-up that varies from run to
    #: run; a second small refresh moves the timed one past it
    warm_ops = 2
    ROWS = 50_000

    def shape(self) -> dict:
        return {"rows": round(self.ROWS * self.scale), "copies": 1}

    def prepare(self) -> None:
        self.csv = os.path.join(self.work, "staging", "staging.csv")
        self.out = os.path.join(self.work, "star")
        self.serve_dir = os.path.join(self.work, "serve")
        self.rows = round(self.ROWS * self.scale)
        datagen.write_staging_csv(self.csv, self.rows, self.seed)
        self.items = self.rows
        self.csv_bytes = os.path.getsize(self.csv)
        src = (
            f"read_csv('{self.csv}', delim='|', header=true, all_varchar=true, "
            "quote='', escape='')"
        )

        def distinct(cols: str) -> int:
            return duckdb.sql(f"SELECT count(*) FROM (SELECT DISTINCT {cols} FROM {src})").fetchone()[0]

        self.expected_dims = {
            "DimDate": DIM_DATE_ROWS,
            "DimTime": DIM_TIME_ROWS,
            "DimLocation": distinct('"Police District", "Analysis Neighborhood"'),
            "DimIncident": distinct('"Incident Category", "Incident Subcategory", "Resolution"'),
            "DimReportType": distinct(
                '"Report Type Description", "Report Type Code", "Filed Online"'
            ),
        }

    def run(self, spark):
        from sfcrimedatapipeline_spark.plans.pipeline import run_pipeline

        tables = run_pipeline(
            spark, self.csv, output_dir=self.out, serve=True, serve_export_dir=self.serve_dir
        )
        # dropping the tables releases the run's caches (unpersist_when_released)
        del tables
        gc.collect()
        return None

    def _check(self, _outputs) -> list[str]:
        problems = []
        fact = pq.read_table(os.path.join(self.out, "FactCrime"), columns=["CrimeID"])
        ids = fact.column("CrimeID").to_numpy()
        if len(ids) != self.rows:
            problems.append(f"FactCrime has {len(ids)} rows, staging has {self.rows}")
        elif not (ids.min() == 1 and ids.max() == self.rows and len(np.unique(ids)) == self.rows):
            problems.append("CrimeID is not dense 1..N")
        for name, want in self.expected_dims.items():
            got = pq.ParquetDataset(os.path.join(self.out, name)).read(columns=[]).num_rows
            if got != want:
                problems.append(f"{name} has {got} rows, expected {want}")
        return problems

    def _stable(self, _outputs):
        lines = []
        for part in sorted(glob.glob(os.path.join(self.serve_dir, "part-*"))):
            with open(part, encoding="utf-8") as fh:
                lines += fh.read().splitlines()[1:]
        return {"serve_rows": len(lines), "serve_hash": hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()[:16]}

    def write_ratio(self) -> float:
        return _dir_bytes(self.out)[0] / self.csv_bytes

    def run_traced(self, spark, tracer, layer: dict) -> None:
        """The refresh through the calls ``run_pipeline`` makes, in its
        order, with each stage forced under its own span.

        Nothing is persisted here: ``transform`` persists the keyed
        staging frame and the two generated dims, as it does in every
        refresh, and the later stages read those caches. The one extra
        pass is ``sources.csv``, a parse of the staging file alone; the
        refresh itself parses the file inside ``load_order_id`` (the
        ``operators.keys`` span), which scans its input twice.
        """
        from pyspark.sql import functions as F
        from sfcrimedatapipeline_spark.operators.keys import load_order_id
        from sfcrimedatapipeline_spark.plans.dims import generate_dim_date, generate_dim_time
        from sfcrimedatapipeline_spark.plans.fact import serve_initial_reports
        from sfcrimedatapipeline_spark.plans.pipeline import transform
        from sfcrimedatapipeline_spark.sources.csv import read_staging_csv
        from sfcrimedatapipeline_spark.sources.serve import export_csv
        from sfcrimedatapipeline_spark.sources.tables import write_table

        with tracer.span("sources.csv"):
            staging = read_staging_csv(spark, self.csv)
            staging.write.mode("overwrite").format("noop").save()
        with tracer.span("operators.keys"):
            keyed = load_order_id(staging, "id")
            tables = transform(
                keyed, generate_dim_date(spark, *DATE_RANGE), generate_dim_time(spark)
            )
            # transform persisted this very frame (persist returns self)
            keyed.count()
        with tracer.span("plans.dims"):
            layer["plans.dims.rows_out"] = float(sum(tables[k].count() for k in DIMS))
        fact = tables["FactCrime"]
        with tracer.span("plans.fact") as fact_span:
            fact._jdf.queryExecution().executedPlan()
            layer["plans.fact.build_s"] = _since(fact_span)
            fact.write.mode("overwrite").format("noop").save()
        spark.sparkContext.setJobGroup("bench.check", "bench")
        n_fact = fact.count()
        layer["plans.fact.null_fk_rows"] = float(
            fact.filter(F.greatest(*[F.col(c).isNull().cast("int") for c in FACT_FKS]) == 1).count()
        )
        # the whole serve star query, split into plan build, execution
        # (noop sink) and result transfer (collect minus noop)
        with tracer.span("plans.serve_query"):
            with tracer.span("plans.build"):
                serve = serve_initial_reports(fact, *[tables[k] for k in DIMS])
                serve._jdf.queryExecution().executedPlan()
            with tracer.span("plans.exec"):
                serve.write.mode("overwrite").format("noop").save()
            with tracer.span("plans.collect"):
                n_serve = len(serve.collect())
        layer["plans.fact.serve_keep_ratio"] = n_serve / n_fact
        tables["ServeInitialReports"] = serve
        with tracer.span("sources.serve"):
            export_csv(serve, self.serve_dir)
        with tracer.span("sources.tables.write"):
            for name, df in tables.items():
                write_table(df, os.path.join(self.out, name))
        layer["sources.tables.bytes_written"], layer["sources.tables.files_written"] = map(
            float, _dir_bytes(self.out)
        )
        layer["sources.tables.write_ratio"] = self.write_ratio()
        # dropping the fact releases transform's caches, as in run()
        del tables, fact, serve, keyed
        gc.collect()


class CorpusCuration(Workload):
    """LLM-data curation chain: MinHash near-dup pairs, connected
    components (both algorithms), PageRank, the curation pipeline and
    the embedding near-dup LSH (Python workers through applyInPandas)."""

    name = "corpus_curation"
    uses_python = True
    #: one copy is half the sf0.1 reference corpus (5000 documents, 2000
    #: vectors), drawn from its measured distributions: at full size the
    #: runs overrun the benchmark's time budget on a contended host
    BASE_DOCS = 2500
    BASE_VECS = 1000
    COPIES = 1
    #: least share of the planted near-duplicate pairs the MinHash LSH
    #: must find (16 hashes in 4 bands find a pair of Jaccard 0.9 with
    #: probability 0.98), and of the true embedding pairs the LSH must find
    MIN_RECALL = 0.9

    def shape(self) -> dict:
        return {"rows": round(self.BASE_DOCS * self.scale) * self.COPIES, "copies": self.COPIES}

    def prepare(self) -> None:
        from sfcrimedatapipeline_spark.plans.llmops import EMB_DEDUP_THRESHOLD

        self.dir = os.path.join(self.work, "corpus")
        n_docs, n_vecs = round(self.BASE_DOCS * self.scale), round(self.BASE_VECS * self.scale)
        roots = datagen.write_corpus(self.dir, n_docs, n_vecs, self.COPIES, self.seed)
        self.items = n_docs * self.COPIES
        self.planted = _pairs_by_key(roots)
        texts = pq.read_table(os.path.join(self.dir, "documents.parquet"), columns=["text"])
        self.exact = _pairs_by_key(texts.column("text").to_pylist())
        vecs = pq.read_table(os.path.join(self.dir, "embeddings.parquet")).column("embedding")
        self.emb_true = _cosine_pairs(np.array(vecs.to_pylist(), dtype=np.float64), EMB_DEDUP_THRESHOLD)

    def _inputs(self, spark):
        from sfcrimedatapipeline_spark.functions.partitioning import ensure_min_partitions
        from sfcrimedatapipeline_spark.sources.tables import read_table

        return (
            ensure_min_partitions(read_table(spark, self.dir, "documents")),
            ensure_min_partitions(read_table(spark, self.dir, "embeddings")),
        )

    def run(self, spark, tracer=None, layer=None):
        from sfcrimedatapipeline_spark.operators import corpus, dedup, graph
        from sfcrimedatapipeline_spark.plans.corpus_queries import (
            MIX_BUDGET,
            MIX_WEIGHTS,
            PAGERANK_DAMPING,
            PAGERANK_ITERS,
            PIPE_CAP,
            PIPE_SHARDS,
        )
        from sfcrimedatapipeline_spark.plans.llmops import (
            EMB_DEDUP_RECALL,
            EMB_DEDUP_TARGET_BUCKET,
            EMB_DEDUP_THRESHOLD,
        )

        span = tracer.span if tracer is not None else (lambda _name: contextlib.nullcontext())
        with span("sources.tables.read"):
            docs, emb = self._inputs(spark)
        out = {}
        with span("operators.dedup.minhash"):
            # persisted, as the program's own dup-graph queries do
            # (plans.corpus_queries._dup_pairs): CC and PageRank share it
            pairs = dedup.minhash_near_duplicates(docs).persist()
            out["pairs"] = sorted(tuple(r) for r in pairs.select("doc_a", "doc_b").collect())
        if layer is not None:
            spark.sparkContext.setJobGroup("bench.candidates", "bench")
            sigs = dedup.minhash_signatures(dedup.shingle_sets(docs, drop_empty=True))
            n_cand = dedup.lsh_candidate_pairs(sigs.select("doc_id", "signature")).count()
            layer["operators.dedup.candidate_pairs"] = float(n_cand)
            layer["operators.dedup.verified_pairs"] = float(len(out["pairs"]))
            layer["operators.dedup.lsh_precision"] = len(out["pairs"]) / n_cand if n_cand else 0.0
        with span("operators.corpus.cc_two_phase"):
            out["cc_two_phase"] = sorted(
                tuple(r) for r in corpus.connected_components(pairs, algorithm="two_phase").collect()
            )
        with span("operators.corpus.cc_label_prop"):
            out["cc_label_prop"] = sorted(
                tuple(r) for r in corpus.connected_components(pairs, algorithm="label_prop").collect()
            )
        with span("operators.graph.pagerank"):
            ranks = graph.pagerank(
                pairs, iters=PAGERANK_ITERS, damping=PAGERANK_DAMPING, deterministic=True
            ).collect()
            out["pagerank"] = sorted(tuple(r) for r in ranks)
        with span("operators.corpus.curate"):
            report = corpus.llm_training_pipeline(
                docs, MIX_WEIGHTS, MIX_BUDGET, cap=PIPE_CAP, n_shards=PIPE_SHARDS
            ).collect()
            out["curation"] = sorted(tuple(r) for r in report)
        with span("operators.dedup.emb_lsh"):
            emb_pairs = dedup.embedding_near_duplicates_lsh_auto(
                emb,
                threshold=EMB_DEDUP_THRESHOLD,
                recall_target=EMB_DEDUP_RECALL,
                target_bucket_rows=EMB_DEDUP_TARGET_BUCKET,
            ).collect()
            out["emb_pairs"] = sorted(tuple(r) for r in emb_pairs)
        pairs.unpersist()
        return out

    def run_traced(self, spark, tracer, layer: dict):
        return self.run(spark, tracer, layer)

    def _check(self, out) -> list[str]:
        problems = []
        found = {(a, b) for a, b in out["pairs"]}
        if not found <= self.planted:
            problems.append(f"{len(found - self.planted)} MinHash pairs are not planted near-duplicates")
        if not self.exact <= found:
            problems.append(f"{len(self.exact - found)} exact-copy pairs were not found")
        if len(found) < self.MIN_RECALL * len(self.planted):
            problems.append(f"MinHash found {len(found)} of {len(self.planted)} planted pairs")
        cc = _components(found)
        if out["cc_two_phase"] != cc:
            problems.append("connected components: two_phase map != the components of the pairs")
        if out["cc_label_prop"] != cc:
            problems.append("connected components: label_prop map != the components of the pairs")
        emb = {(a, b) for a, b, _cos in out["emb_pairs"]}
        if not emb <= self.emb_true or len(emb) < self.MIN_RECALL * len(self.emb_true):
            problems.append(
                f"embedding LSH found {len(emb)} pairs, {len(emb - self.emb_true)} false; "
                f"{len(self.emb_true)} pairs reach the threshold"
            )
        return problems

    def _stable(self, out):
        digest = hashlib.sha256(repr((out["pagerank"], out["emb_pairs"], out["cc_two_phase"])).encode())
        return {"pairs": len(out["pairs"]), "curation": out["curation"], "hash": digest.hexdigest()[:16]}


def _pairs_by_key(keys) -> set[tuple[int, int]]:
    """Every (i, j), i < j, of positions holding equal keys."""
    groups: dict = {}
    for i, k in enumerate(keys):
        groups.setdefault(k, []).append(i)
    return {(a, b) for g in groups.values() for x, a in enumerate(g) for b in g[x + 1:]}


def _cosine_pairs(vecs: np.ndarray, threshold: float) -> set[tuple[int, int]]:
    """Every (i, j), i < j, with cosine at least ``threshold``, exactly."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    out = set()
    for lo in range(0, len(unit), 1024):
        sims = unit[lo:lo + 1024] @ unit.T
        for a, b in zip(*np.nonzero(sims >= threshold)):
            if lo + a < b:
                out.add((int(lo + a), int(b)))
    return out


def _components(pairs) -> list[tuple[int, int]]:
    """(node, smallest node of its component), sorted, for an edge set."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return sorted((n, find(n)) for n in parent)


def _since(span: dict) -> float:
    return time.time() - span["start"]


WORKLOADS = {w.name: w for w in (EltRefresh, CorpusCuration)}
