"""The workloads: which public calls one pass makes, and how every
result is checked against truth outside the timed region.

Registry workloads (``relational``, ``llm_iterative``, ``media``) call
registered query functions on the vendored fixture tables; one operation
is build (the query function call), plan (forcing the executed plan) and
fetch (``toPandas``).  Each result is compared with the query's DuckDB
oracle through the ``oracle`` module's canonicalization.

``etl_ingest`` drives the reference pipeline on a seeded match-score
feed (``feed.py``), one entity per pass: ingestion, the DQ suite on the
staging view, a two-wave streaming upsert, a model build and test, and
a partition-pruned read-back of the landed data.
"""

from __future__ import annotations

import functools
import os
import re
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import datetime as dt

import feed as feedmod

# Fixed subsets, chosen by rule from the sorted registry names, so they
# are not hand-picked.  The whole families do not fit the run budget
# (4 + 22 runs per workload within 3420 s), so a pass is kept to a few
# seconds on 4 cores.  relational and llm_iterative are runnable by
# hand but not in BENCHMARK.json (see README.md).
_TPCH = re.compile(r"q\d+_")


def _relational(names: list[str]) -> list[str]:
    fam = [n for n in names if _TPCH.match(n) or n.startswith(("join_", "agg_", "window_"))]
    return fam[::13]


def _llm_iterative(names: list[str]) -> list[str]:
    fam = [n for n in names if n.startswith(("dedup_", "ann_", "graph_", "embed_"))]
    # the two builder-heaviest queries (32 and 29 eager jobs), plus
    # every twelfth of the rest
    heavy = ["graph_pagerank", "dedup_connected_components"]
    return heavy + [n for n in fam if n not in heavy][::12]


def _media(names: list[str]) -> list[str]:
    return [n for n in names if n.startswith("multimodal_")][::19]


# workload -> (fixture scale under perfbench/data, query selector)
REGISTRY_WORKLOADS: dict[str, tuple[str, Callable[[list[str]], list[str]]]] = {
    "relational": ("sf0.01", _relational),
    "llm_iterative": ("sf0.001", _llm_iterative),
    "media": ("sf0.001", _media),
}
WORKLOADS = (*REGISTRY_WORKLOADS, "etl_ingest")


@dataclass
class Op:
    """One closed-loop operation.  ``run`` makes the public calls inside
    tracer spans and returns what ``check`` needs; ``check`` runs after
    the timed region and returns None or a mismatch description."""

    name: str
    run: Callable
    check: Callable[[object], str | None]


# ------------------------------------------------------------ registry


def _fetch(df):
    try:
        return df.toPandas()
    except Exception:  # types Arrow cannot carry: the row path, as bench.py does
        import pandas as pd

        return pd.DataFrame.from_records(df.collect(), columns=df.columns)


def _compare(pdf, oracle_pdf) -> str | None:
    from open_source_etl_spark.oracle import canonical_pdf

    s_cols, o_cols = sorted(pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        return f"column mismatch: spark={s_cols} oracle={o_cols}"
    if len(pdf) != len(oracle_pdf):
        return f"row count mismatch: spark={len(pdf)} oracle={len(oracle_pdf)}"
    try:
        if canonical_pdf(pdf) != canonical_pdf(oracle_pdf):
            return "value mismatch"
    except TypeError as exc:
        return f"canon error: {exc}"
    return None


class RegistryOps:
    """Builds the ops of one registry workload over ``data_dir``."""

    def __init__(self, workload: str, data_root: str):
        from open_source_etl_spark.registry import all_oracles, all_queries

        self.queries = all_queries()
        self.oracles = all_oracles()
        scale, select = REGISTRY_WORKLOADS[workload]
        self.data_dir = os.path.join(data_root, scale)
        self.names = select(sorted(self.queries))
        self._con = None
        self._verdicts: dict[str, list[tuple[object, str | None]]] = {}
        self._oracle_pdfs: dict[str, object] = {}

    def ops(self) -> list[Op]:
        return [Op(n, functools.partial(self._run, n), functools.partial(self._check, n))
                for n in self.names]

    def _run(self, name: str, spark, tracer, op_id: str):
        from open_source_etl_spark.plans.inspect import python_stage_count

        with tracer.span("operators.build", op_id):
            df = self.queries[name](spark, self.data_dir)
        if tracer.enabled and name not in tracer.facts:
            # once per run, in a warm pass, before AQE adds the final plan
            # beside the initial one (which would count each node twice)
            tracer.facts[name] = python_stage_count(df)
        with tracer.span("plans.plan", op_id):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("spark.fetch", op_id):
            return _fetch(df)

    def _oracle(self, name: str):
        import duckdb

        if self._con is None:
            from open_source_etl_spark.catalog import TABLES

            self._con = duckdb.connect()
            for t in TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.data_dir}/{t}.parquet')"
                )
        return self._con.execute(self.oracles[name]).df()

    def _check(self, name: str, pdf) -> str | None:
        if name not in self.oracles:
            return "no oracle registered"
        seen = self._verdicts.setdefault(name, [])
        for prev, verdict in seen:  # the same frame again: same verdict
            if prev.equals(pdf):
                return verdict
        if name not in self._oracle_pdfs:
            self._oracle_pdfs[name] = self._oracle(name)
        verdict = _compare(pdf, self._oracle_pdfs[name])
        seen.append((pdf, verdict))
        return verdict

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


# ------------------------------------------------------------ etl_ingest

# feed size per entity: 20 match dates x 600 rows = 12,000 wave-1 rows
FEED_SHAPE = dict(dates_per_entity=20, rows_per_date=600, redelivered_dates=3, new_dates=2)
RUN_DATE = dt.date(2024, 3, 7)


def _canon(rows) -> list[tuple]:
    return sorted(
        (tuple(None if v is None else str(v) for v in r) for r in rows),
        key=lambda t: tuple((v is None, v or "") for v in t),
    )


def _first_diff(got: list[tuple], want: list[tuple], cols: list[str]) -> str:
    if len(got) != len(want):
        return f"row count mismatch: got={len(got)} want={len(want)}"
    bad = sorted({cols[i] for g, w in zip(got, want) for i in range(len(cols)) if g[i] != w[i]})
    g, w = next((g, w) for g, w in zip(got, want) if g != w)
    return f"value mismatch in columns {bad}: got {g} want {w}"


class EtlOps:
    """The ``etl_ingest`` workload: one pass runs one entity's pipeline.

    Passes cycle through the five entities in a seeded order; all
    entities have the same feed shape, so passes are comparable.  Each
    pass works in a fresh directory (landing, metadata store, streaming
    source, upsert store, checkpoint); the feed is generated once per
    run from the seed.
    """

    def __init__(self, work_dir: str, seed: int, entities: tuple[str, ...]):
        import random

        self.work = work_dir
        self.feed = feedmod.generate(os.path.join(work_dir, "feed"), seed, entities, **FEED_SHAPE)
        self.order = list(entities)
        random.Random(seed).shuffle(self.order)
        self.entity = ""
        self.pass_dir = ""
        self._model_truth: dict[str, dict] = {}

    # ------------------------------------------------------------ passes

    def start_pass(self, spark, k: int) -> None:
        from open_source_etl_spark.ingest.metadata import MetadataStore

        self.entity = self.order[k % len(self.order)]
        self.pass_dir = os.path.join(self.work, f"pass{k}")
        os.makedirs(os.path.join(self.pass_dir, "stream_src"))
        self.meta = MetadataStore(spark, os.path.join(self.pass_dir, "metadata"))
        self.meta.upsert(self.entity, key_type="transactional")

    def dirs_bytes(self, names=("landing", "metadata", "store", "checkpoint")) -> tuple[int, int]:
        from tracing import tree_bytes

        return tree_bytes(*(os.path.join(self.pass_dir, n) for n in names))

    def csv_bytes(self) -> int:
        return sum(os.path.getsize(w[self.entity]) for w in (self.feed.wave1, self.feed.wave2))

    def csv_rows(self) -> int:
        return len(self.feed.rows[self.entity]) + len(self.feed.rows2[self.entity])

    def end_pass(self) -> None:
        shutil.rmtree(self.pass_dir, ignore_errors=True)

    def ops(self) -> list[Op]:
        return [
            Op("ingest.run", self._ingest, self._check_ingest),
            Op("dq.validate", self._validate, self._check_dq),
            Op("streaming.upsert", self._stream, self._check_stream),
            Op("models.build", self._models_build, self._check_models),
            Op("models.test", self._models_test, self._check_model_tests),
            Op("readback.landed", self._readback, self._check_readback),
        ]

    # ------------------------------------------------------------ ingest

    def _ingest(self, spark, tracer, op_id: str):
        from open_source_etl_spark.ingest.pipeline import run_ingestion

        with tracer.span("ingest.run_ingestion", op_id):
            res = run_ingestion(
                spark,
                self.entity,
                source_glob=self.feed.wave1[self.entity],
                landing_root=os.path.join(self.pass_dir, "landing"),
                metadata=self.meta,
                run_date=RUN_DATE,
                partition_by_content=True,
            )
        return res, self.meta.get_value(self.entity)

    def _check_ingest(self, out) -> str | None:
        from open_source_etl_spark.ingest.partitioner import partition_suffix

        res, meta_value = out
        want_rows = len(self.feed.rows[self.entity])
        want_value = f"transactional/{self.entity}/{partition_suffix(RUN_DATE)}"
        if res is None:
            return "sensor found no files"
        if res.staged_rows != want_rows:
            return f"staged rows {res.staged_rows} != generated {want_rows}"
        if res.partition_value != want_value or meta_value != want_value:
            return f"metadata value {meta_value!r} != {want_value!r}"
        return None

    # ------------------------------------------------------------ dq

    def _validate(self, spark, tracer, op_id: str):
        from open_source_etl_spark.dq.expectations import bundesliga_suite
        from open_source_etl_spark.dq.runner import validate

        with tracer.span("dq.validate", op_id):
            return validate(spark.table(f"t_{self.entity}_external"), bundesliga_suite())

    def _check_dq(self, result) -> str | None:
        e = self.entity
        want = {f"not_null.{c}": n for c, n in self.feed.nulls[e].items()}
        want["in_set.round"] = self.feed.bad_round[e]
        want["in_set.day"] = self.feed.bad_day[e]
        got, schema_ok = {}, None
        for o in result.results:
            if o["expectation"].endswith("ordered_list"):
                schema_ok = o["success"]
            elif o["expectation"].endswith("in_set"):
                got[f"in_set.{o['column']}"] = o["violations"]
            else:
                got[f"not_null.{o['column']}"] = o["violations"]
        if result.row_count != len(self.feed.rows[e]):
            return f"row_count {result.row_count} != {len(self.feed.rows[e])}"
        if schema_ok is not True:
            return "ordered column check failed on the reference's own columns"
        if got != want:
            return f"violations {got} != injected {want}"
        return None

    @staticmethod
    def violations(result) -> int:
        return sum(o.get("violations", 0) for o in result.results)

    # ------------------------------------------------------------ streaming

    def _stream(self, spark, tracer, op_id: str):
        from pyspark.sql.types import StringType, StructField, StructType

        from open_source_etl_spark.streaming.pipelines import stream_upsert_partitions

        schema = StructType([StructField(c, StringType()) for c in feedmod.COLUMNS])
        src = os.path.join(self.pass_dir, "stream_src")
        store = os.path.join(self.pass_dir, "store")
        ckpt = os.path.join(self.pass_dir, "checkpoint")
        with tracer.span("streaming.stream_upsert_partitions", op_id):
            for wave in (self.feed.wave1, self.feed.wave2):  # the second wave arrives later
                shutil.copy(wave[self.entity], src)
                stream_upsert_partitions(spark, src, store, schema, ckpt, timeout_sec=120)
        return store

    def _check_stream(self, store: str) -> str | None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        got = _canon(spark.read.parquet(store).select(*feedmod.COLUMNS).collect())
        truth = feedmod.upsert_truth(self.feed.rows[self.entity], self.feed.rows2[self.entity])
        want = _canon([r[c] for c in feedmod.COLUMNS] for r in truth)
        return None if got == want else _first_diff(got, want, feedmod.COLUMNS)

    # ------------------------------------------------------------ models

    def registry(self):
        """A league table over the pass's staging view, as three
        dbt-style models."""
        from pyspark.sql import functions as F

        from open_source_etl_spark.models.registry import ModelRegistry

        entity = self.entity

        def stg_matches(spark, ref):
            goals = F.split(F.col("score"), feedmod.SCORE_SEP)
            return (
                spark.table(f"t_{entity}_external")
                .where(F.col("score").isNotNull() & F.col("home").isNotNull() & F.col("away").isNotNull())
                .select(F.lit(entity).alias("league"), "home", "away",
                        goals[0].cast("int").alias("hg"), goals[1].cast("int").alias("ag"))
            )

        def league_table(spark, ref):
            m = ref("stg_matches")
            sides = m.select("league", F.col("home").alias("team"),
                             F.col("hg").alias("gf"), F.col("ag").alias("ga")).unionByName(
                m.select("league", F.col("away").alias("team"),
                         F.col("ag").alias("gf"), F.col("hg").alias("ga")))
            win, draw = (F.col("gf") > F.col("ga")).cast("int"), (F.col("gf") == F.col("ga")).cast("int")
            return sides.groupBy("league", "team").agg(
                F.count(F.lit(1)).alias("played"),
                F.sum(win).cast("bigint").alias("wins"),
                F.sum(draw).cast("bigint").alias("draws"),
                F.sum(F.col("gf").cast("bigint")).alias("goals_for"),
                F.sum(F.col("ga").cast("bigint")).alias("goals_against"),
                F.sum(win * 3 + draw).cast("bigint").alias("points"),
            ).withColumn("team_key", F.concat_ws("/", "league", "team"))

        def league_leaders(spark, ref):
            from pyspark.sql import Window

            w = Window.partitionBy("league").orderBy(
                F.col("points").desc(), (F.col("goals_for") - F.col("goals_against")).desc(), "team")
            return (ref("league_table").withColumn("rank", F.row_number().over(w))
                    .where(F.col("rank") == 1).select("league", "team", "points"))

        reg = ModelRegistry()
        reg.register("stg_matches", stg_matches)
        reg.register("league_table", league_table, materialized="table",
                     depends_on=("stg_matches",),
                     tests={"unique": ("team_key",), "not_null": ("team_key", "points")})
        reg.register("league_leaders", league_leaders, depends_on=("league_table",),
                     tests={"unique": ("league",)})
        return reg

    def _models_build(self, spark, tracer, op_id: str):
        self.models = self.registry()
        with tracer.span("models.build", op_id):
            built = self.models.build(spark)
        with tracer.span("spark.fetch", op_id):
            return {n: _fetch(built[n]) for n in ("league_table", "league_leaders")}

    def _models_test(self, spark, tracer, op_id: str):
        with tracer.span("models.test", op_id):
            return self.models.test(spark)

    def _duckdb_models(self):
        import duckdb

        union = (f"SELECT '{self.entity}' AS league, home, away, score FROM "
                 f"read_csv('{self.feed.wave1[self.entity]}', header=true, all_varchar=true)")
        sep = feedmod.SCORE_SEP
        table_sql = f"""
            WITH m AS (
              SELECT league, home, away,
                     CAST(split_part(score, '{sep}', 1) AS INTEGER) AS hg,
                     CAST(split_part(score, '{sep}', 2) AS INTEGER) AS ag
              FROM ({union})
              WHERE score IS NOT NULL AND home IS NOT NULL AND away IS NOT NULL
            ), s AS (
              SELECT league, home AS team, hg AS gf, ag AS ga FROM m
              UNION ALL SELECT league, away, ag, hg FROM m
            )
            SELECT league, team, CAST(COUNT(*) AS BIGINT) AS played,
                   CAST(SUM(CASE WHEN gf > ga THEN 1 ELSE 0 END) AS BIGINT) AS wins,
                   CAST(SUM(CASE WHEN gf = ga THEN 1 ELSE 0 END) AS BIGINT) AS draws,
                   CAST(SUM(gf) AS BIGINT) AS goals_for,
                   CAST(SUM(ga) AS BIGINT) AS goals_against,
                   CAST(SUM(CASE WHEN gf > ga THEN 3 WHEN gf = ga THEN 1 ELSE 0 END) AS BIGINT) AS points,
                   league || '/' || team AS team_key
            FROM s GROUP BY league, team"""
        leaders_sql = f"""
            SELECT league, team, points FROM (
              SELECT *, row_number() OVER (PARTITION BY league ORDER BY points DESC,
                     goals_for - goals_against DESC, team) AS rank FROM ({table_sql}))
            WHERE rank = 1"""
        with duckdb.connect() as con:
            return {"league_table": con.execute(table_sql).df(),
                    "league_leaders": con.execute(leaders_sql).df()}

    def _check_models(self, tables) -> str | None:
        if self.entity not in self._model_truth:
            self._model_truth[self.entity] = self._duckdb_models()
        for name, want in self._model_truth[self.entity].items():
            diff = _compare(tables[name], want)
            if diff:
                return f"{name}: {diff}"
        return None

    def _check_model_tests(self, outcomes) -> str | None:
        failed = [k for k, ok in outcomes.items() if not ok]
        return f"model tests failed: {failed}" if failed else None

    # ------------------------------------------------------------ read-back

    def _readback(self, spark, tracer, op_id: str):
        from pyspark.sql import functions as F

        from open_source_etl_spark.ingest.partitioner import MONTH_NAMES

        year, month = self.readback_month()
        path = os.path.join(self.pass_dir, "landing", self.entity)
        with tracer.span("spark.fetch", op_id):
            df = spark.read.parquet(path).where(
                (F.col("year") == year) & (F.col("month") == MONTH_NAMES[month - 1])
            )
            return df.toPandas()

    def readback_month(self) -> tuple[int, int]:
        """The month of the entity's median match date."""
        dated = sorted(r["date"] for r in self.feed.rows[self.entity] if r["date"])
        y, m, _ = dated[len(dated) // 2].split("-")
        return int(y), int(m)

    def _check_readback(self, pdf) -> str | None:
        year, month = self.readback_month()
        prefix = f"{year:04d}-{month:02d}-"
        want = _canon(
            [r[c] for c in feedmod.COLUMNS]
            for r in self.feed.rows[self.entity]
            if r["date"] and r["date"].startswith(prefix)
        )
        missing = [c for c in feedmod.COLUMNS if c not in pdf.columns]
        if missing:
            return f"landed data lacks CSV columns {missing}"
        rows = pdf[feedmod.COLUMNS].astype(object).where(pdf[feedmod.COLUMNS].notna(), None)
        got = _canon(rows.itertuples(index=False, name=None))
        return None if got == want else _first_diff(got, want, feedmod.COLUMNS)
