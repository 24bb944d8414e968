"""The benchmark workloads. Each times calls into the program's public
functions only; see DESIGN.md for why each exists and which layers
it loads."""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen


def _files(root: str, pattern: str = "*.parquet") -> list[str]:
    return glob.glob(os.path.join(root, "**", pattern), recursive=True)


def _bytes(root: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(root, "**", "*"), recursive=True) if os.path.isfile(p))


class Workload:
    OP_NAME = "op"  # span name of one operation
    SIZES: dict = {}

    def __init__(self, run):
        self.run = run
        self.span = run.tracer.span
        self.cfg = self.SIZES[run.size]

    def phase(self, spark, name: str):
        """A layer-call span; in the traced run it also tags the Spark
        jobs the call submits with a job group of the same name."""
        if self.run.trace:
            spark.sparkContext.setJobGroup(f"{self.run.tracer.op}:{name}", name)
        return self.span(name)

    def unload(self, spark) -> None:
        pass


# ---- query_mix --------------------------------------------------------------


class QueryMix(Workload):
    """The 50-query registry window, over the hot-cached fixture tables, in a
    seeded order per pass."""

    OP_NAME = "query"
    WARM_PASSES = 1  # untimed passes after the checked one
    # stride: every stride-th query of the 50-query driver window
    SIZES = {"bench": {"sf": 0.01, "stride": 4}, "tiny": {"sf": 0.001, "stride": 10}}
    STREAM_BATCHES = 2  # the second batch probes state the first one grew
    EMB_THRESHOLD = 0.9

    def generate(self) -> None:
        from nfl_data_pipeline_spark.queries import PRIORITY, all_queries

        self.sf_dir = os.path.join(self.run.work, "sf")
        self.rows = gen.write_fixture(self.sf_dir, self.run.seed, self.cfg["sf"])
        self.specs = all_queries()
        # every stride-th window query, plus the window's pandas-UDF
        # query so the Python worker boundary is on the timed path
        self.window = list(PRIORITY[:50:self.cfg["stride"]]) + ["udf_model_score"]
        self.run.notes["queries"] = self.window

    def load(self, spark) -> None:
        from nfl_data_pipeline_spark.catalog import FIXTURE_TABLES, load

        with self.span("catalog.load"):
            self.tables = {t: load(spark, self.sf_dir, t) for t in FIXTURE_TABLES}

    def check_load(self, spark) -> None:
        self.run.check("catalog.rows", all(df.count() == self.rows[t] for t, df in self.tables.items()))

    def unload(self, spark) -> None:
        from nfl_data_pipeline_spark.catalog import clear_hot_cache

        clear_hot_cache()

    def warm(self, spark) -> None:
        """One untimed pass that collects every result and checks it
        against the DuckDB oracle at the same scale as the timed
        passes (the workload's own data, so the check and the timing
        see one input)."""
        con = check.fixture_duck(self.sf_dir, self.tables)
        for q in self.window:
            spec = self.specs[q]

            def fn(spec=spec):
                with self.phase(spark, "queries.build"):
                    df = spec.spark(spark, self.sf_dir)
                with self.phase(spark, "queries.exec"):
                    got = check.spark_canon(df)
                if spec.oracle is None:
                    return lambda: got[2] > 0
                return lambda: got == check.duck_canon(con, spec.oracle)

            self.run.op(f"warm-{q}", fn, steady=False, name=self.OP_NAME)
        con.close()
        # the JIT keeps speeding the queries up for several passes
        # (pass medians 0.41 → 0.29 → 0.27 → 0.25 s on a quiet box):
        # time from the third pass on, where that curve has flattened
        for p in range(self.WARM_PASSES):
            for q in self.window:
                self.run.op(f"warm{p}-{q}", self._query(spark, self.specs[q]), steady=False, name=self.OP_NAME)

    def ops(self, spark, deadline: float):
        # whole passes only, each in its own seeded order; a pass starts
        # while the clock has not run out
        p = 0
        while p == 0 or time.perf_counter() < deadline:
            order = np.random.default_rng([self.run.seed, p]).permutation(len(self.window))
            for i in order:
                yield f"p{p}-{self.window[i]}", self._query(spark, self.specs[self.window[i]])
            p += 1

    def _query(self, spark, spec):
        def fn():
            with self.phase(spark, "queries.build"):
                df = spec.spark(spark, self.sf_dir)
            if self.run.trace:
                with self.phase(spark, "queries.plan"):
                    df._jdf.queryExecution().executedPlan()
            with self.phase(spark, "queries.exec"):
                df.write.format("noop").mode("overwrite").save()

        return fn

    def finish(self, spark) -> None:
        if not self.run.trace:
            return
        r = self.run
        for k in ("build", "plan", "exec"):
            r.layer[f"queries.{k}_s"] = r.span_mean(f"queries.{k}")
        steady = [c for c in r.op_counters if c["steady"]]
        r.layer["queries.build_jobs"] = (
            sum(c["by_group"].get("queries.build", 0) for c in steady) / max(1, len(steady))
        )
        self._stream(spark)

    def _stream(self, spark) -> None:
        """The streaming layer, in the traced run only and after the timed
        loop: the fixture's documents and embeddings, split by seed into
        micro-batches, each through the curation chain and the embedding
        gate against the state the earlier batches grew."""
        from pyspark.sql import functions as F

        from nfl_data_pipeline_spark.streaming.curation import (
            CurationState,
            process_curation_batch,
            read_curation_counts,
        )
        from nfl_data_pipeline_spark.streaming.embdedup import EmbDedupState, process_embdedup_batch

        root = os.path.join(self.run.work, "stream")
        cur = CurationState(os.path.join(root, "curation"), track_frequent=True)
        gate = EmbDedupState(os.path.join(root, "embdedup"))
        nb = self.STREAM_BATCHES
        docs, vecs = self.tables["documents"], self.tables["embeddings"]
        rng = np.random.default_rng([self.run.seed, 7])
        doc_ids = np.array_split(rng.permutation(self.rows["documents"]), nb)
        vec_ids = np.array_split(rng.permutation(self.rows["embeddings"]), nb)
        emb = pq.read_table(os.path.join(self.sf_dir, "embeddings.parquet"), columns=["embedding"])
        emb = np.asarray(emb.column("embedding").combine_chunks().flatten(), dtype=np.float64).reshape(
            self.rows["embeddings"], -1
        )
        kept_docs = []
        commits = []

        for i in range(nb):
            def batch(i=i):
                before = _commits(root)
                d = docs.filter(F.col("doc_id").isin(doc_ids[i].tolist()))
                v = vecs.filter(F.col("vec_id").isin(vec_ids[i].tolist()))
                with self.phase(spark, "streaming.curation"):
                    n_kept = process_curation_batch(spark, d, cur, f"b{i}").count()
                with self.phase(spark, "streaming.embgate"):
                    verdicts = process_embdedup_batch(
                        spark, v, gate, f"b{i}", threshold=self.EMB_THRESHOLD, engine="arrow"
                    ).collect()
                kept_docs.append(n_kept)
                commits.append(_commits(root) - before)
                seen = np.concatenate(vec_ids[: i + 1])
                return lambda: check.embgate_verdicts(verdicts, vec_ids[i], seen, emb, self.EMB_THRESHOLD)

            self.run.op(f"stream-b{i}", batch, steady=False, name="stream_batch")
        counts = read_curation_counts(spark, cur).collect()
        self.run.check("streaming.curation_counts", len(kept_docs) == nb and check.curation_counts(
            counts, self.rows["documents"], sum(kept_docs)
        ))
        r = self.run
        r.layer["streaming.curation_s"] = r.span_mean("streaming.curation")
        r.layer["streaming.embgate_s"] = r.span_mean("streaming.embgate")
        r.layer["streaming.kept_ratio"] = sum(kept_docs) / self.rows["documents"]
        r.layer["streaming.commits_per_batch"] = sum(commits) / nb
        r.layer["streaming.state_files_per_batch"] = sum(map(os.path.isfile, _files(root, "*"))) / nb
        r.layer["streaming.state_mb"] = _bytes(root) / 2**20


def _commits(root: str) -> int:
    """Tx-table commits under ``root``: one numbered manifest each."""
    return sum(os.path.basename(p)[:-5].isdigit() for p in _files(root, "*.json") if "_txlog" in p)


# ---- warehouse_lifecycle ------------------------------------------------


class WarehouseLifecycle(Workload):
    """Rebuild the season-partitioned play-by-play table (set-up), then
    append the final season week by week. A week is one operation: the
    append of its games, then the analysis set over the on-disk table.
    Weeks 1-3 are the untimed warm-up; a replayed week must append 0
    rows."""

    SIZES = {
        "bench": {"seasons": 25, "plays_per_week": 16 * 28, "weeks": 18},
        "tiny": {"seasons": 4, "plays_per_week": 16 * 12, "weeks": 6},
    }
    OP_NAME = "week"
    KEY = ["game_id", "play_id"]
    MIN_PLAYS, MIN_DROPBACKS = 50, 30
    WARM_WEEKS = 3

    def generate(self) -> None:
        c = self.cfg
        if self.run.size == "tiny":
            self.MIN_PLAYS, self.MIN_DROPBACKS = 5, 2
        tbl = gen.pbp_frame(self.run.seed, c["seasons"], c["plays_per_week"], c["weeks"])
        season = tbl.column("season").to_numpy()
        week = tbl.column("week").to_numpy()
        self.final = int(season.max())
        src = os.path.join(self.run.work, "source")
        self.hist_dir = os.path.join(src, "history")
        os.makedirs(self.hist_dir)
        hist = season < self.final
        for i, part in enumerate(np.array_split(np.flatnonzero(hist), 4)):
            pq.write_table(tbl.take(pa.array(part)), os.path.join(self.hist_dir, f"part-{i}.parquet"))
        self.expected = {int(s): int((season == s).sum()) for s in np.unique(season[hist])}
        self.weeks = []
        for w in range(1, c["weeks"] + 1):
            idx = np.flatnonzero((season == self.final) & (week == w))
            path = os.path.join(src, f"week-{w:02d}.parquet")
            pq.write_table(tbl.take(pa.array(idx)), path)
            self.weeks.append((w, path, len(idx)))
        self.table = os.path.join(self.run.work, "warehouse", "pbp")
        self.rebuild_files: list[int] = []
        self.append_files: list[int] = []

    def load(self, spark) -> None:
        from nfl_data_pipeline_spark.jobs.rebuild import rebuild, sanity_counts

        with self.phase(spark, "jobs.rebuild"):
            rebuild(spark.read.parquet(self.hist_dir), self.table, partition_col="season")
        with self.phase(spark, "jobs.sanity"):
            self.sanity = sanity_counts(spark, self.table, "season").collect()

    def check_load(self, spark) -> None:
        got = {r["season"]: r["count"] for r in self.sanity}
        self.run.check("jobs.sanity_counts", got == self.expected)
        self.rebuild_files.append(len(_files(self.table)))
        self.bytes_per_row = _bytes(self.table) / sum(self.expected.values())

    def _analyses(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from nfl_data_pipeline_spark.jobs.update import freshness_report
        from nfl_data_pipeline_spark.plans.epa_panel import qb_seasons
        from nfl_data_pipeline_spark.plans.let_russ_cook import team_pass_rates

        pbp = spark.read.parquet(self.table)
        with self.phase(spark, "plans.freshness_report"):
            fresh = freshness_report(spark, self.table, "game_id").collect()
        with self.phase(spark, "plans.team_pass_rates"):
            rates = team_pass_rates(pbp, season=self.final).collect()
        with self.phase(spark, "plans.lag_panel"):
            panel = qb_seasons(pbp, min_plays=self.MIN_PLAYS, min_dropbacks=self.MIN_DROPBACKS)
            w = Window.partitionBy("id").orderBy("season")
            metrics = ["epa_per_play", "epa_play", "cpoe", "success_rate", "n_plays"]
            for m in metrics:
                panel = panel.withColumn(f"lag_{m}", F.lag(m).over(w))
            corr = panel.agg(
                *[F.corr(F.col(m).cast("double"), F.col(f"lag_{m}").cast("double")).alias(f"yoy_{m}") for m in metrics],
                F.count("lag_epa_per_play").alias("n_pairs"),
            ).collect()
        return fresh, rates, corr

    def _verify(self, fresh, rates, corr) -> bool:
        con = check.pbp_duck(self.table)
        try:
            want_fresh = [r[0] for r in con.execute(check.FRESHNESS_SQL.format(n=5)).fetchall()]
            verdicts = {
                "freshness_report": [r["game_id"] for r in fresh] == want_fresh
                and all(r["as_of"] is not None for r in fresh),
                "team_pass_rates": check.rows_close(
                    sorted(tuple(r) for r in rates),
                    con.execute(check.TEAM_PASS_RATES_SQL.format(season=self.final)).fetchall(),
                ),
                "lag_panel": check.rows_close(
                    [tuple(r) for r in corr],
                    con.execute(
                        check.LAG_PANEL_SQL.format(min_plays=self.MIN_PLAYS, min_dropbacks=self.MIN_DROPBACKS)
                    ).fetchall(),
                    rel=1e-7,
                ),
            }
            bad = [k for k, v in verdicts.items() if not v]
            if bad:
                self.run.notes.setdefault("mismatch", []).append(bad)
            return not bad
        finally:
            con.close()

    def _week(self, spark, w: int, path: str, n_rows: int):
        from nfl_data_pipeline_spark.jobs.update import incremental_append

        before = len(_files(self.table))

        def cycle():
            with self.phase(spark, "jobs.append"):
                n = incremental_append(spark, spark.read.parquet(path), self.table, self.KEY, "season")
            with self.span("plans.analysis"):
                out = self._analyses(spark)

            def verify():
                self.append_files.append(len(_files(self.table)) - before)
                if n != n_rows:
                    self.run.notes.setdefault("mismatch", []).append(f"week {w}: appended {n} of {n_rows}")
                return n == n_rows and self._verify(*out)

            return verify

        return cycle

    def warm(self, spark) -> None:
        for w, path, n_rows in self.weeks[:self.WARM_WEEKS]:
            self.run.op(f"warm-week{w:02d}", self._week(spark, w, path, n_rows), steady=False, name=self.OP_NAME)

    def ops(self, spark, deadline: float):
        done = 0
        for w, path, n_rows in self.weeks[self.WARM_WEEKS:]:
            if done >= 3 and time.perf_counter() >= deadline:
                break
            yield f"week{w:02d}", self._week(spark, w, path, n_rows)
            done += 1
            self.last_week = path
        self.run.notes["weeks_ingested"] = done + self.WARM_WEEKS

    def finish(self, spark) -> None:
        from nfl_data_pipeline_spark.jobs.update import incremental_append

        def replay():
            with self.phase(spark, "jobs.append"):
                n = incremental_append(spark, spark.read.parquet(self.last_week), self.table, self.KEY, "season")
            return lambda: n == 0

        self.run.op("replay", replay, steady=False, name="replay")
        r = self.run
        r.layer["jobs.rebuild_files"] = float(np.median(self.rebuild_files))
        r.layer["jobs.bytes_per_row"] = self.bytes_per_row
        r.layer["jobs.append_files"] = float(np.mean(self.append_files)) if self.append_files else 0.0
        if r.trace:
            r.layer["jobs.rebuild_s"] = float(np.median(r.tracer.durations("jobs.rebuild")))
            r.layer["jobs.sanity_s"] = float(np.median(r.tracer.durations("jobs.sanity")))
            r.layer["jobs.append_s"] = r.span_mean("jobs.append")
            r.layer["plans.analysis_s"] = r.span_mean("plans.analysis")


WORKLOADS = {
    "query_mix": QueryMix,
    "warehouse_lifecycle": WarehouseLifecycle,
}
