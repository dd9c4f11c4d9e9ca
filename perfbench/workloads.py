"""The benchmark's workloads.

Each workload makes its inputs (``prepare``: fixed data, ordered or
split by the seed), names the op list every pass runs, runs one op
inside the timed region (``run``) and checks that op's output outside
it (``check``).  ``end_pass`` reports the on-disk and live bytes of the
tables a write workload keeps.

The engine is driven only through its public entry points:
``CATALOG[k].builder``, ``medallion.run_incremental``,
``corpus.ingest_batch`` and ``TableStore``.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import sys

import numpy as np
import pyarrow.parquet as pq

import datagen
import stats

BI_STAR_KEYS = (
    "star_rollup", "fact_build", "group_topk", "percentile_stats",
    "rolling_wau", "asof_join", "market_share",
)
CURATION_KEYS = (
    "dup_clusters", "semantic_dedup", "ann_pq_recall", "minhash_lsh_pairs",
    "tfidf_topk", "cluster_best_doc", "dedup_survivorship", "token_pagerank",
)
FACT_FK_COLS = (
    "customer_key", "merchant_key", "payment_method_key", "status_key", "date_key",
)


@contextlib.contextmanager
def _quiet_stdout():
    """The pipeline prints one ``RESULT_JSON:`` line per stage; keep
    the benchmark's stdout for its own result."""
    with contextlib.redirect_stdout(sys.stderr):
        yield


def store_tables(store) -> list[str]:
    """Logical names of the tables a TableStore holds (``db__table`` dirs)."""
    names = [
        d.replace("__", ".", 1)
        for d in sorted(os.listdir(store.root))
        if "__" in d and "." not in d and os.path.isdir(os.path.join(store.root, d))
    ]
    return [n for n in names if store.exists(n)]


def store_usage(store) -> dict:
    """Files and bytes under the store root vs. in the live snapshots."""
    files_disk, bytes_disk = stats.tree_bytes(store.root)
    uris: list[str] = []
    for name in store_tables(store):
        uris.extend(store.read(name).inputFiles())
    files_live, bytes_live = stats.live_bytes(uris)
    return {
        "files_on_disk": files_disk, "bytes_on_disk": bytes_disk,
        "files_live": files_live, "bytes_live": bytes_live,
    }


def _count_problems(checks: dict[str, int]) -> list[str]:
    return [f"{name}: {n}" for name, n in checks.items() if n]


class Workload:
    """Every pass runs the same ``op_list()``; ``warmup_passes`` follow
    the cold pass unreported, until per-op times have flattened out."""

    name = ""
    warmup_passes = 0

    def __init__(self, seed: int, tracer):
        self.seed = seed
        self.tracer = tracer
        self.spark = None

    def prepare(self, spark, in_dir: str) -> None:
        raise NotImplementedError

    def op_list(self) -> list[str]:
        raise NotImplementedError

    def begin_pass(self, pass_index: int, run_dir: str) -> None:
        pass

    def run(self, op: str):
        raise NotImplementedError

    def check(self, op: str, result, full: bool) -> list[str]:
        raise NotImplementedError

    def check_pass(self) -> list[str]:
        """Invariants over the tables a pass wrote, checked after its
        last op; a failure counts against that op."""
        return []

    def end_pass(self) -> dict | None:
        """Files and bytes of the tables the pass wrote; ``None`` for a
        read-only workload."""
        return None


class StoreWorkload(Workload):
    """Write workload: every pass applies the same input batches, in
    order, to a fresh store, so each pass is the same work and
    ``space_amp`` reads the same after every pass."""

    store = None

    def begin_pass(self, pass_index: int, run_dir: str) -> None:
        from delta_lake_gcp_implementation_spark.pipeline.storage import TableStore

        if self.store is not None:
            shutil.rmtree(self.store.root)
        self.store = TableStore(self.spark, os.path.join(run_dir, f"store{pass_index}"))

    def op_list(self) -> list[str]:
        return list(self.ops)

    def end_pass(self) -> dict:
        return store_usage(self.store)


class CatalogWorkload(Workload):
    """Read-only catalog keys, in seeded order, over fixed synthetic
    TPC-H-ish tables (``datagen``).  An op
    builds one key's frame and collects it to the driver, as a BI
    client receives it; the output is compared with the key's DuckDB
    ``oracle_sql`` (values on the cold pass, row count and columns on
    later passes, since the inputs do not change within a run)."""

    keys: tuple[str, ...] = ()
    sf = 0.01
    n_docs = 500
    n_vecs = 500

    def prepare(self, spark, in_dir: str) -> None:
        from delta_lake_gcp_implementation_spark.plans.catalog import CATALOG

        self.catalog = CATALOG
        self.spark = spark
        self.in_dir = in_dir
        self._duck = None
        self._oracle: dict = {}
        datagen.catalog_inputs(in_dir, self.sf, self.n_docs, self.n_vecs)

    def op_list(self) -> list[str]:
        keys = list(self.keys)
        random.Random(self.seed).shuffle(keys)
        return keys

    def run(self, op: str):
        with self.tracer.span("plans.builder"):
            df = self.catalog[op].builder(self.spark, self.in_dir)
        return df, df.toPandas()

    def oracle(self, key: str):
        if key not in self._oracle:
            import duckdb

            if self._duck is None:
                self._duck = duckdb.connect()
                for t in datagen.RELATIONAL + ["documents", "embeddings"]:
                    path = os.path.join(self.in_dir, f"{t}.parquet")
                    self._duck.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                    )
            self._oracle[key] = self._duck.execute(self.catalog[key].oracle_sql).fetchdf()
        return self._oracle[key]

    def check(self, op: str, result, full: bool) -> list[str]:
        from tools.compare_oracle import compare

        _, got = result
        want = self.oracle(op)
        if full:
            return compare(op, got, want)
        problems = []
        if sorted(got.columns) != sorted(want.columns):
            problems.append(f"columns {sorted(got.columns)} vs {sorted(want.columns)}")
        if len(got) != len(want):
            problems.append(f"rowcount {len(got)} vs {len(want)}")
        return problems

    def catalyst_ms(self, result) -> dict[str, float]:
        """Catalyst phase times of the collected frame's own execution."""
        df, _ = result
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            found = phases.get(phase)
            out[phase] = float(found.get().durationMs()) if found.isDefined() else 0.0
        return out


class BiStar(CatalogWorkload):
    name = "bi_star"
    keys = BI_STAR_KEYS


class CurationDedup(CatalogWorkload):
    name = "curation_dedup"
    keys = CURATION_KEYS
    warmup_passes = 1


class MedallionDaily(StoreWorkload):
    """Consecutive days of the engine's dirty payment generator, one
    ``run_incremental`` daily batch per op: the first day loads empty
    tables, the later ones MERGE into them; the seed picks the first
    day."""

    name = "medallion_daily"
    rows_per_day = 1_000
    days = 2

    def prepare(self, spark, in_dir: str) -> None:
        from delta_lake_gcp_implementation_spark.pipeline import fixtures, medallion

        self.medallion = medallion
        self.spark = spark
        first = 1 + self.seed % (32 - self.days)
        self.raw = {
            f"day{d:02d}": fixtures.generate_day_spark(spark, d, self.rows_per_day)
            for d in range(first, first + self.days)
        }
        self.ops = list(self.raw)

    def run(self, op: str):
        with _quiet_stdout():
            return self.medallion.run_incremental(self.store, self.raw[op])

    def check(self, op: str, result, full: bool) -> list[str]:
        """Validation staged or quarantined every raw row of the day."""
        v = result["validate"]
        return _count_problems({
            "raw rows != staged + quarantined":
                self.rows_per_day - v["staged"] - v["quarantined"],
        })

    def check_pass(self) -> list[str]:
        """Invariants after the pass's days: every raw row is in bronze
        or quarantine; one silver row per transaction; one current SCD2
        row per customer and per known merchant (test merchants
        ``MERCH_9xxx`` stay out of gold); no NULL dimension key in the
        fact."""
        from pyspark.sql import functions as F

        read = self.store.read
        silver = read("silver.transactions")
        s = silver.agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("transaction_id").alias("ids"),
            F.countDistinct("customer_id").alias("customers"),
            F.countDistinct(
                F.when(~F.col("merchant_id").like("MERCH_9%"), F.col("merchant_id"))
            ).alias("merchants"),
        ).first()
        checks = {
            "raw rows not in bronze or quarantine": self.rows_per_day * self.days
            - read("bronze.transactions").count()
            - read("bronze.quarantine").count(),
            "duplicate silver transaction_id": s.rows - s.ids,
        }
        for dim, key, want in (
            ("gold.dim_customer", "customer_id", s.customers),
            ("gold.dim_merchant", "merchant_id", s.merchants),
        ):
            cur = read(dim).filter(F.col("is_current")).agg(
                F.count(F.lit(1)).alias("rows"), F.countDistinct(key).alias("keys")
            ).first()
            checks[f"{dim} current rows != one per {key}"] = (cur.rows != cur.keys) + (
                cur.keys != want
            )
        fact = read("gold.fact_transactions")
        checks["NULL dimension keys in fact"] = fact.filter(
            " OR ".join(f"{c} IS NULL" for c in FACT_FK_COLS)
        ).count()
        return _count_problems(checks)


class CorpusIngest(StoreWorkload):
    """A fixed set of documents dealt by a seeded shuffle into equal
    batches, one ``corpus.ingest_batch`` per op; every pass ingests all
    batches, in order, into an empty corpus."""

    name = "corpus_ingest"
    batch_docs = 150
    batches = 2

    def prepare(self, spark, in_dir: str) -> None:
        from delta_lake_gcp_implementation_spark.pipeline import corpus

        self.corpus = corpus
        self.spark = spark
        n_docs = self.batch_docs * self.batches
        docs = datagen.documents(np.random.default_rng(datagen.DATA_SEED), n_docs)
        order = np.random.default_rng(self.seed).permutation(n_docs)
        os.makedirs(in_dir, exist_ok=True)
        self.paths, self.sizes = {}, {}
        for b in range(self.batches):
            op = f"batch{b}"
            rows = np.sort(order[b * self.batch_docs:(b + 1) * self.batch_docs])
            self.paths[op] = os.path.join(in_dir, f"{op}.parquet")
            self.sizes[op] = len(rows)
            pq.write_table(docs.take(rows), self.paths[op])
        self.ops = list(self.paths)

    def run(self, op: str):
        batch = self.spark.read.parquet(self.paths[op])
        return self.corpus.ingest_batch(self.store, batch)

    def check(self, op: str, result, full: bool) -> list[str]:
        """accepted + dropped = batch."""
        dropped = (
            result["exact_batch_dups"] + result["exact_corpus_dups"] + result["near_dups"]
        )
        return _count_problems({
            "batch size != input rows": result["batch"] - self.sizes[op],
            "accepted + dropped != batch": result["accepted"] + dropped - result["batch"],
        })

    def check_pass(self) -> list[str]:
        """The ``bucket_counts`` log sums per bucket equal a recount
        from ``minhash_bands``."""
        from pyspark.sql import functions as F

        corpus = self.corpus
        logged = self.store.read(corpus.COUNTS).groupBy("bucket").agg(
            F.sum("n_docs").alias("logged")
        )
        recount = self.store.read(corpus.BANDS).groupBy("bucket").agg(
            F.count(F.lit(1)).alias("recount")
        )
        mismatched = logged.join(recount, "bucket", "full_outer").filter(
            ~F.col("logged").eqNullSafe(F.col("recount"))
        ).count()
        return _count_problems({"bucket_counts != recount from minhash_bands": mismatched})


WORKLOADS = {
    w.name: w for w in (BiStar, CurationDedup, MedallionDaily, CorpusIngest)
}
