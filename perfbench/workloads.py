"""The benchmark's workloads.

Each workload calls only the public functions of the engine package
(``us_immigration_data_lake_spark``) and exposes one shape to the
runner:

- ``ROUND``: the operation labels of one round, the same every round;
  a timed window always ends on a whole round;
- ``run_op(spark, label, span)``: one operation, forced to completion;
  it returns what ``record`` keeps for the check. ``SPANS_IN_OPS``
  says whether it opens spans inside the operation when given ``span``;
- ``record(label, output)``: called outside the timer after each
  operation;
- ``check(spark)``: label -> problems found in the recorded outputs
  and in what the last round wrote, computed after the timed window;
- ``trace(spark, tracer)``: the per-layer composition, each public call
  in its own span, lazy calls forced on already-materialized input.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import inputs
from checks import count_problems, lake_problems, result_digest, result_problems


def force(df: DataFrame) -> None:
    """Execute the whole plan without collecting rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def materialize(df: DataFrame) -> DataFrame:
    df.cache()
    df.count()
    return df


def release(frames) -> None:
    for df in frames:
        df.unpersist()


def parquet_tree(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


class LakeEtl:
    """The reference's ``main()``: raw I-94 parquet and three CSVs ->
    four curated tables, quality-checked, written as partitioned
    parquet. One operation is one whole build."""

    kind = "lake"
    size = 150_000  # raw I-94 rows

    SUITES = {
        "immigration": dict(unique_keys=[["cicid"]], max_null_rate={
            "arrdate": 0.0, "depdate": 0.1, "i94addr": 0.1, "gender": 0.15}),
        "arrival_date": dict(unique_keys=[["sasdate"]]),
        "demographics": dict(unique_keys=[["City", "State"]]),
        "country": dict(unique_keys=[["Code"]]),
    }
    PARTITIONS = {
        "immigration": ["i94yr", "i94mon"],
        "arrival_date": ["date_year", "date_month"],
    }
    FOREIGN_KEYS = [("i94cit", "Code"), ("i94res", "Code")]
    BUILD_SPANS = {
        "immigration": "pipelines.immigration.build_immigration_fact",
        "arrival_date": "pipelines.immigration.build_arrival_date_dim",
        "demographics": "pipelines.immigration.build_demographics",
        "country": "pipelines.immigration.build_country",
    }

    ROUND = ["build"]
    SPANS_IN_OPS = False

    def __init__(self, data_dir: str, manifest: dict, work_dir: str):
        self.data_dir, self.manifest, self.work_dir = data_dir, manifest, work_dir
        self.out_dir = os.path.join(work_dir, "lake")
        self.failed_checks: list[str] = []

    def run_op(self, spark, label: str, span=None) -> list:
        """One build; returns its quality-check results."""
        tables = self._builders(self._read(spark))
        for df in tables.values():
            df.cache()  # one execution serves the checks and the write
        try:
            results = self._quality(tables)
            self._write(tables, self.out_dir)
        finally:
            release(tables.values())
        return results

    def record(self, label: str, results: list) -> None:
        self.failed_checks += [f"{r.table}/{r.check}: {r.detail}"
                               for r in results if not r.passed]

    def _read(self, spark) -> dict[str, DataFrame]:
        from us_immigration_data_lake_spark.sources import readers

        src = self.data_dir
        return {
            "raw": readers.read_parquet(spark, f"{src}/sas_data"),
            "demographics": readers.read_csv(
                spark, f"{src}/us_cities_demographics.csv",
                schema=inputs.DEMOGRAPHICS_SCHEMA, sep=";"),
            "lookup": readers.read_csv(
                spark, f"{src}/i94cit_i94res.csv", schema=inputs.LOOKUP_SCHEMA),
            "temperatures": readers.read_csv(
                spark, f"{src}/temperatures.csv", schema=inputs.TEMPERATURE_SCHEMA),
        }

    @staticmethod
    def _builders(src: dict[str, DataFrame]) -> dict[str, DataFrame]:
        from us_immigration_data_lake_spark.pipelines import immigration as imm

        return {
            "immigration": imm.build_immigration_fact(src["raw"]),
            "arrival_date": imm.build_arrival_date_dim(src["raw"]),
            "demographics": imm.build_demographics(src["demographics"]),
            "country": imm.build_country(src["lookup"], src["temperatures"]),
        }

    def _suites(self, tables: dict[str, DataFrame]) -> list:
        from us_immigration_data_lake_spark.quality import QualitySuite

        return [r for name, df in tables.items()
                for r in QualitySuite(name, **self.SUITES[name]).run(df)]

    def _foreign_keys(self, tables: dict[str, DataFrame]) -> list:
        from us_immigration_data_lake_spark.quality import fk_coverage

        return [fk_coverage(tables["immigration"], fk, tables["country"], pk)
                for fk, pk in self.FOREIGN_KEYS]

    def _quality(self, tables: dict[str, DataFrame]) -> list:
        return self._suites(tables) + self._foreign_keys(tables)

    def _write(self, tables: dict[str, DataFrame], out_dir: str) -> None:
        from us_immigration_data_lake_spark.sources.writers import write_parquet

        for name, df in tables.items():
            write_parquet(df, out_dir, name, partition_by=self.PARTITIONS.get(name))

    def check(self, spark) -> dict[str, list[str]]:
        """Every build's quality checks, and the lake the last build
        wrote, read back, against the counts the generator knows and
        against every table DuckDB computes from the raw inputs."""
        def read(name):
            return spark.read.parquet(os.path.join(self.out_dir, name))

        row = read("immigration").agg(
            F.count(F.lit(1)).alias("n"), F.sum("stay").alias("s")).first()
        got = {
            "fact_rows": row["n"], "stay_sum": row["s"],
            "arrival_dates": read("arrival_date").count(),
            "demographics_rows": read("demographics").count(),
            "country_rows": read("country").count(),
        }
        want = {k: self.manifest[k] for k in got}
        tables = lake_problems(self.data_dir, self.out_dir)
        return {"build": self.failed_checks + count_problems(got, want)
                + [f"{t}: {p}" for t, issues in tables.items() for p in issues]}

    def trace(self, spark, tracer) -> dict[str, float]:
        from us_immigration_data_lake_spark.operators.joins import dim_join
        from us_immigration_data_lake_spark.sources import readers

        m: dict[str, float] = {}
        with tracer.span("sources.readers.read_parquet"):
            force(readers.read_parquet(spark, f"{self.data_dir}/sas_data"))
        with tracer.span("sources.readers.read_csv"):
            for name, df in self._read(spark).items():
                if name != "raw":
                    force(df)
        read = {k: materialize(v) for k, v in self._read(spark).items()}

        built = {}
        for name, df in self._builders(read).items():
            with tracer.span(self.BUILD_SPANS[name]):
                force(df)
            built[name] = materialize(df)

        with tracer.span("operators.joins.dim_join"):
            country = built["country"].select(F.col("Code").alias("i94cit"), "Country")
            force(dim_join(built["immigration"], country, ["i94cit"]))

        with tracer.span("quality.suite_run"):
            results = self._suites(built)
        with tracer.span("quality.fk_coverage"):
            results += self._foreign_keys(built)
        m["quality.checks_run"] = len(results)
        m["quality.checks_failed"] = sum(not r.passed for r in results)

        out = os.path.join(self.out_dir, "traced")
        with tracer.span("sources.writers.write_parquet"):
            self._write(built, out)
        size, files = parquet_tree(out)
        m["sources.writers.bytes_written"] = size
        m["sources.writers.files_written"] = files
        m["sources.writers.bytes_per_input_byte"] = ratio(size, self.manifest["input_bytes"])
        release([*read.values(), *built.values()])
        shutil.rmtree(out, ignore_errors=True)

        corpus = f"{self.data_dir}/corpus"
        m.update(trace_corpus_calls(spark, tracer.span, f"{corpus}/documents.parquet",
                                    f"{corpus}/embeddings.parquet",
                                    os.path.join(self.work_dir, "corpus")))
        return m


QUERY_NAMES = [
    "q01_pricing_summary", "q02_date_dim", "q03_fact_stay",
    "q04_top_revenue_orders", "q09_top_orders_per_customer",
    "q14_events_hourly", "q97_asof_forward", "q105_local_supplier_revenue",
    "q127_stream_ivm", "q163_sketch_cube",
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


class LakeQuery:
    """An analyst's closed loop over ten registry queries, each run and
    its rows collected to the driver; every round runs all ten in the
    same order."""

    kind = "tables"
    size = 100  # scale factor in thousandths: the 17 MB sf0.1 set

    ROUND = QUERY_NAMES
    SPANS_IN_OPS = True

    def __init__(self, data_dir: str, manifest: dict, work_dir: str):
        self.data_dir, self.manifest, self.work_dir = data_dir, manifest, work_dir
        self.digests: dict[str, list] = {}

    def run_op(self, spark, label: str, span=None) -> tuple[list, list]:
        """(columns, rows). With ``span``, building the plan and
        executing it are spans of their own."""
        from us_immigration_data_lake_spark.plans.queries import QUERIES

        if span is None:
            df = QUERIES[label].fn(spark, self.data_dir)
            return df.columns, df.collect()
        with span(f"plans.queries.{label}.build"):
            df = QUERIES[label].fn(spark, self.data_dir)
        with span(f"plans.queries.{label}.exec"):
            return df.columns, df.collect()

    def record(self, label: str, output: tuple[list, list]) -> None:
        self.digests.setdefault(label, []).append(result_digest(*output))

    def check(self, spark) -> dict[str, list[str]]:
        """Every recorded output against its query's DuckDB oracle:
        schema, row count and the order-insensitive multiset of rows."""
        from us_immigration_data_lake_spark.plans.queries import QUERIES

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
            out = {}
            for name, got in self.digests.items():
                res = con.sql(QUERIES[name].oracle)
                want = result_digest(res.columns, res.fetchall())
                out[name] = [p for g in got for p in result_problems(g, want)]
            return out
        finally:
            con.close()

    def trace(self, spark, tracer) -> dict[str, float]:
        from us_immigration_data_lake_spark.operators.joins import dim_join
        from us_immigration_data_lake_spark.sources.schema_cache import read_parquet_cached

        m: dict[str, float] = {}
        paths = {t: f"{self.data_dir}/{t}.parquet" for t in TABLES}
        for p in paths.values():
            read_parquet_cached(spark, p)  # fill the cache; the timed calls hit it
        t0 = time.perf_counter()
        for _ in range(5):
            for p in paths.values():
                read_parquet_cached(spark, p)
        m["sources.schema_cache.read_parquet_cached_s"] = (
            (time.perf_counter() - t0) / (5 * len(paths)))

        lineitem = materialize(read_parquet_cached(spark, paths["lineitem"]))
        orders = materialize(read_parquet_cached(spark, paths["orders"]).select(
            F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"))
        with tracer.span("operators.joins.dim_join"):
            force(dim_join(lineitem, orders, ["l_orderkey"], broadcast_dim=False))
        release([lineitem, orders])

        # per-query spans come from the runner's traced window (run_op)
        m.update(trace_corpus_stages(spark, tracer.span, paths["documents"]))
        return m


# The corpus composition uses the parameters of registry queries
# q186_corpus_stats and q188_joint_dedup (portable md5 hashing, 2-token
# shingles, 8 hashes in 8 bands, bucket cap 5, cosine 0.35 on 8 planes),
# with the PII scrub on: the generated text holds no PII, so the scrub
# does its full scan and changes nothing.
CORPUS_PARAMS = dict(
    min_quality=0.46, jaccard_threshold=0.055, chunk_tokens=50, overlap=10,
    max_bucket_size=5, scrub=True, shingle_n=2, num_hashes=8, bands=8,
    portable=True,
)
JOINT_PARAMS = dict(
    dim=inputs.EMBEDDING_DIM, jaccard_threshold=0.055, cosine_threshold=0.35,
    shingle_n=2, num_hashes=8, bands=8, num_bits=8, seed=42, max_bucket_size=5,
    portable=True,
)
CORPUS_DOCS = inputs.CORPUS_DOCS  # documents the corpus compositions trace
CORPUS_STAGES = ["input_docs", "after_quality", "after_decontamination",
                 "after_exact_dedup", "after_near_dedup", "chunks"]


def ratio(part: int, whole: int) -> float:
    return part / whole if whole else 0.0


def _corpus_frames(spark, docs_path: str, emb_path: str | None, max_docs: int):
    """The first ``max_docs`` documents, and with ``emb_path`` those
    with an embedding joined to it, both materialized."""
    from us_immigration_data_lake_spark.sources import readers

    docs = materialize(readers.read_parquet(spark, docs_path)
                       .filter(F.col("doc_id") < max_docs))
    if emb_path is None:
        return docs, None
    emb = readers.read_parquet(spark, emb_path)
    return docs, materialize(
        docs.join(emb, docs.doc_id == emb.vec_id).select("doc_id", "text", "embedding"))


def trace_corpus_stages(spark, span, docs_path: str, max_docs: int = CORPUS_DOCS) -> dict:
    """The corpus build stage by stage over the first ``max_docs``
    documents, each stage's public call in its own span on the
    materialized output of the stage before: text features, PII scrub,
    exact dedup, MinHash-LSH, connected components, chunking.
    ``span(name)`` is the context manager around each call. The
    composition runs once, so its spans include first-call code
    generation."""
    from us_immigration_data_lake_spark.operators import dedup as dd
    from us_immigration_data_lake_spark.operators import pii
    from us_immigration_data_lake_spark.operators import textstats as ts

    p = CORPUS_PARAMS
    lsh = dict(shingle_n=p["shingle_n"], num_hashes=p["num_hashes"], bands=p["bands"],
               max_bucket_size=p["max_bucket_size"], recover_oversized=True,
               portable=p["portable"])
    m: dict[str, float] = {}
    docs, _ = _corpus_frames(spark, docs_path, None, max_docs)

    with span("operators.textstats.features"):
        scores = ts.quality_score(ts.text_features(docs, "doc_id", "text"))
        langs = ts.lang_id(docs, "doc_id", "text")
        force(scores)
        force(langs)
    gated = materialize(
        docs.join(scores.select("doc_id", "quality_score"), "doc_id")
        .join(langs.select("doc_id", "predicted_lang"), "doc_id")
        .filter(F.col("quality_score") >= p["min_quality"]))
    with span("operators.pii.scrub"):
        scrubbed = pii.scrub_pii(gated, "text", out_col="text")
        force(scrubbed)
    scrubbed = materialize(scrubbed)
    with span("operators.dedup.exact"):
        exact = dd.dedup_exact_by_content(scrubbed, "doc_id", "text")
        force(exact)
    exact = materialize(exact)

    # The threshold only filters the verified pairs at the end, so one
    # run that keeps every candidate (Jaccard >= 0) yields both counts.
    with span("operators.dedup.minhash_lsh"):
        frames = dd.near_dup_frames(exact, "doc_id", "text", threshold=0.0, **lsh)
        candidates = materialize(frames["pairs"])
    pairs = materialize(candidates.filter(F.col("jaccard") >= p["jaccard_threshold"]))
    n_candidates, n_verified = candidates.count(), pairs.count()
    m["operators.dedup.candidate_pairs"] = n_candidates
    m["operators.dedup.verified_pairs"] = n_verified
    m["operators.dedup.pair_precision"] = ratio(n_verified, n_candidates)
    release(frames["cached"] + [candidates])

    with span("operators.dedup.connected_components"):
        survivors = dd.dedup_survivors(exact, pairs, "doc_id")
        force(survivors)
    deduped = materialize(
        exact.join(survivors.filter(F.col("keep")).select("doc_id"), "doc_id"))
    with span("operators.textstats.chunk"):
        force(ts.chunk_documents(deduped, "doc_id", "text", p["chunk_tokens"], p["overlap"]))
    release([docs, gated, scrubbed, exact, pairs, deduped])
    return m


def trace_corpus_calls(spark, span, docs_path: str, emb_path: str, out_dir: str,
                       max_docs: int = CORPUS_DOCS) -> dict:
    """The whole-corpus calls over the first ``max_docs`` documents and
    their embeddings, each in its own span: the full corpus build with
    its partitioned write, semantic dedup and joint text + semantic
    dedup; plus the SRP candidate counts. Runs once, so its spans
    include first-call code generation."""
    from us_immigration_data_lake_spark.operators import dedup as dd
    from us_immigration_data_lake_spark.operators import similarity as sim
    from us_immigration_data_lake_spark.pipelines.corpus import build_training_corpus

    p, j = CORPUS_PARAMS, JOINT_PARAMS
    srp = dict(dim=j["dim"], num_bits=j["num_bits"], seed=j["seed"],
               max_bucket_size=j["max_bucket_size"], recover_oversized=True)
    m: dict[str, float] = {}
    docs, joined = _corpus_frames(spark, docs_path, emb_path, max_docs)

    with span("pipelines.corpus.build_training_corpus"):
        _, stats = build_training_corpus(docs, out_dir=out_dir, **p)
    for k in CORPUS_STAGES:
        m[f"pipelines.corpus.stage_rows.{k}"] = getattr(stats, k)

    with span("operators.similarity.semantic_dedup"):
        registry: list = []
        force(sim.semantic_dedup(joined, "doc_id", "embedding",
                                 threshold=j["cosine_threshold"],
                                 cache_registry=registry, **srp))
    release(registry)
    # cosine >= -1 keeps every candidate
    frames = sim.srp_near_dup_frames(joined, "doc_id", "embedding", threshold=-1.0, **srp)
    candidates = materialize(frames["pairs"])
    verified = candidates.filter(F.col("cosine_sim") >= j["cosine_threshold"]).count()
    n_candidates = candidates.count()
    m["operators.similarity.candidate_pairs"] = n_candidates
    m["operators.similarity.pair_precision"] = ratio(verified, n_candidates)
    release(frames["cached"] + [candidates])

    with span("operators.dedup.joint_near_dup_survivors"):
        force(dd.joint_near_dup_survivors(joined, "doc_id", "text", "embedding", **j))
    release([docs, joined])
    shutil.rmtree(out_dir, ignore_errors=True)
    return m


WORKLOADS = {"lake_etl": LakeEtl, "lake_query": LakeQuery}
