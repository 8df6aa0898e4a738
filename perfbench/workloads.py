"""The benchmark's workloads. Each drives the engine's public functions
from outside: ``setup`` prepares a fresh session, ``op`` runs one timed
pipeline pass, and ``checks`` verifies the last pass's outputs afterwards,
outside the timed region.

Every call into an engine module runs inside ``tracer.span(<module>.
<function>)``, so the modules are the layers the trace reports.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
from pyspark.sql import functions as F

from bench import HEADLINE
from end_to_end_ml_spark.operators import dedup
from end_to_end_ml_spark.plans.entry_queries import PIPE13_SQL, REGISTRY
from end_to_end_ml_spark.sources import load_table

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)
import check_oracle as CO  # noqa: E402
import run_curation_pipeline as RC  # noqa: E402

CURATION_BUDGET = 5_000  # PIPE13_SQL's budget, so curate() has an oracle
DSIR_FRAC = 0.5  # PIPE13_SQL's selection fraction


class Context:
    """What a workload needs: the session, the input directory and a
    scratch directory for its writes."""

    def __init__(self, spark, data_dir: str, work_dir: str):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir

    def duck(self) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect(
            config={"temp_directory": os.path.join(self.work_dir, "duckdb")}
        )
        for t in CO.TABLES:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con

    def op_dir(self, op: int) -> str:
        return os.path.join(self.work_dir, f"op{op}")


def same_rows(cols_a, rows_a, cols_b, rows_b) -> bool:
    """tools/check_oracle.py's comparison: the same column names and the
    same rows in any order."""
    return sorted(cols_a) == sorted(cols_b) and CO.rows_to_multiset(
        cols_a, rows_a
    ) == CO.rows_to_multiset(cols_b, rows_b)


def _shingles(text: str, n: int = 5) -> frozenset:
    """``_SHINGLE_SQL``: distinct character n-grams, the whole text when
    it is shorter than n."""
    return frozenset(text[i : i + n] for i in range(max(len(text) - n + 1, 1)))


def near_dup_groups_oracle(con, threshold: float = 0.6) -> list[tuple[int, int]]:
    """The ``d7_near_dup_groups`` oracle: every document pair whose exact
    5-shingle Jaccard is at least ``threshold``, closed transitively into
    (doc_id, group_id = smallest member) rows. ``D7_GROUPS_SQL`` states
    the same thing, but DuckDB's brute-force list Jaccard and recursive
    closure take minutes on a few hundred documents; this computes it in
    seconds. ``selftest.py`` compares the two on a small corpus."""
    docs = con.sql("SELECT doc_id, text FROM documents ORDER BY doc_id").fetchall()
    sh = [(d, _shingles(t)) for d, t in docs]
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, (a, sa) in enumerate(sh):
        for b, sb in sh[i + 1 :]:
            lo, hi = sorted((len(sa), len(sb)))
            if lo < threshold * hi:  # J <= lo / hi
                continue
            inter = len(sa & sb)
            if inter / (len(sa) + len(sb) - inter) >= threshold:
                for x in (a, b):
                    parent.setdefault(x, x)
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
    return [(x, find(x)) for x in sorted(parent)]


class CurationPipeline:
    """Near-dup detection over the documents, DSIR-curated shards, and a
    three-night incremental curation loop with a versioned fingerprint
    store."""

    name = "curation_pipeline"
    spans = (
        "operators.dedup.minhash_dedup_pairs",
        "operators.dedup.connected_components",
        "operators.dedup.canonical_per_group",
        "tools.run_curation_pipeline.curate",
        "tools.run_curation_pipeline.run_epochs",
    )

    def setup(self, ctx: Context) -> None:
        load_table(ctx.spark, ctx.data_dir, "documents")

    def op(self, ctx: Context, tr, op: int) -> None:
        spark, d = ctx.spark, ctx.data_dir
        out = ctx.op_dir(op)
        docs = load_table(spark, d, "documents")
        with tr.span("operators.dedup.minhash_dedup_pairs"):
            pairs = dedup.minhash_dedup_pairs(
                docs, "doc_id", "text", threshold=0.6, shingle_size=5,
                sort_result=False,
            )
        with tr.span("operators.dedup.connected_components"):
            groups = dedup.connected_components(pairs)
        with tr.span("operators.dedup.canonical_per_group"):
            dedup.canonical_per_group(docs, groups, "doc_id", "text").write.mode(
                "overwrite"
            ).parquet(os.path.join(out, "canonical"))
        with tr.span("tools.run_curation_pipeline.curate"):
            curated, stats = RC.curate(
                spark, d, CURATION_BUDGET, dsir_frac=DSIR_FRAC
            )
            curated.write.mode("overwrite").partitionBy("shard").parquet(
                os.path.join(out, "shards")
            )
            stats_rows = stats.collect()
        with tr.span("tools.run_curation_pipeline.run_epochs"):
            RC.run_epochs(spark, d, CURATION_BUDGET, n_epochs=3, out_dir=out)
        self.last = {"dir": out, "groups": groups, "stats": stats_rows}

    def checks(self, ctx: Context) -> dict[str, bool]:
        last = self.last
        con = ctx.duck()
        groups = last["groups"].select(F.col("id").alias("doc_id"), "group_id")
        oracle_groups = near_dup_groups_oracle(con)
        stats_cols = ["source", "n_docs_kept", "n_tokens_kept", "admit_ppm"]
        stats = [tuple(r[c] for c in stats_cols) for r in last["stats"]]
        oracle = con.sql(PIPE13_SQL)
        shard_rows = ctx.spark.read.parquet(os.path.join(last["dir"], "shards")).count()
        return {
            "near_dup_groups_match_oracle": same_rows(
                groups.columns, [tuple(r) for r in groups.collect()],
                ["doc_id", "group_id"], oracle_groups,
            ),
            "curated_stats_match_oracle": same_rows(
                stats_cols, stats, oracle.columns, oracle.fetchall()
            ),
            "curated_shards_hold_kept_docs": shard_rows
            == sum(r[1] for r in stats),
        }

    def pair_yield(self, ctx: Context) -> float:
        """Verified near-dup pairs per MinHash-LSH candidate pair."""
        docs = load_table(ctx.spark, ctx.data_dir, "documents")
        cands = dedup.minhash_lsh_candidates(docs, "doc_id", "text", shingle_size=5)
        pairs = dedup.minhash_dedup_pairs(
            docs, "doc_id", "text", threshold=0.6, shingle_size=5, sort_result=False
        )
        return pairs.count() / max(cands.count(), 1)


class QuerySweep:
    """bench.py's 18 headline registry queries, each built, run and
    fetched; the SQL cache is cleared after each query as bench.py does.
    The fetched rows are what the checks compare with the oracles."""

    name = "query_sweep"
    spans = ("plans.build", *(f"query_sweep.{q}" for q in HEADLINE))

    def setup(self, ctx: Context) -> None:
        for t in CO.TABLES:
            load_table(ctx.spark, ctx.data_dir, t)
        self.simhash_rows: list[int] = []

    def op(self, ctx: Context, tr, op: int) -> None:
        spark, d = ctx.spark, ctx.data_dir
        results = {}
        for q in HEADLINE:
            with tr.span(f"query_sweep.{q}"):
                t0 = time.perf_counter()
                df = REGISTRY[q][0](spark, d)
                tr.add_time("plans.build", time.perf_counter() - t0)
                results[q] = (df.columns, [tuple(r) for r in df.collect()])
            spark.catalog.clearCache()
        self.last = results
        self.simhash_rows.append(len(results["d4_simhash_pairs"][1]))

    def checks(self, ctx: Context) -> dict[str, bool]:
        con = ctx.duck()
        out = {}
        for q, (cols, rows) in self.last.items():
            sql = REGISTRY[q][1]
            if sql is not None:
                rel = con.sql(sql)
                out[f"{q}_matches_oracle"] = same_rows(
                    cols, rows, rel.columns, rel.fetchall()
                )
        # d4 has no oracle (xxhash64 fingerprints): its row count must not
        # change from one pass to the next
        out["d4_simhash_pairs_rows_stable"] = len(set(self.simhash_rows)) == 1
        return out


WORKLOADS = {w.name: w for w in (CurationPipeline, QuerySweep)}
