"""The benchmark's workloads.

Each workload has

- ``prepare``: untimed, once per run, before the session starts. Lands
  the seeded inputs (cached on disk by size and seed) and computes the
  expected results the checks compare against.
- ``setup``: timed, once per run. The fixture load that follows the
  session start.
- ``cycle``: one pass over the workload's fixed list of timed operations,
  repeated at least ``min_cycles`` times. Checks run after each
  operation, outside its timing.

Every engine call goes through the public functions of the engine's
modules, looked up at call time, so the traced run can wrap them.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import inputs

#: rows and span of the pipeline's sequence table; row counts of the
#: query-mix tables (the shape of the repo's sf0.01 tables)
SIZE = {"rows": 10_000, "span_days": 5, "events": 10_000, "documents": 500,
        "embeddings": 500}

#: hardmax threshold of the rule-flag pass, lowered to bite (~2% of the
#: uniform[1, 256] n_tok domain), as bench.py's rule_flagging does
FLAG_THRESHOLD = 250.0

#: query-mix leaves, in run order
QUERY_LEAVES = (
    "kpss_level", "source_overlap", "dup_spans", "lev_verify",
    "offset_detection",
)

TIER_COLS = ["source", "bucket", "n_points", "sum_tok", "min_tok", "max_tok"]


class Recorder:
    """Timed operations and their failures."""

    def __init__(self):
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.check_s = 0.0

    def timed(self, kind: str, fn, probe: bool = False):
        op = {"kind": kind, "s": 0.0, "ok": True, "probe": probe}
        self.ops.append(op)
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # an operation that raises counts as failed
            op["s"] = time.perf_counter() - t0
            self.fail(op, f"{kind} raised {type(e).__name__}: "
                          f"{str(e).splitlines()[0][:300] if str(e) else ''}")
            return op, None
        op["s"] = time.perf_counter() - t0
        return op, out

    def fail(self, op: dict, msg: str) -> None:
        op["ok"] = False
        self.failures.append(msg)

    def check(self, op: dict, what: str, fn) -> None:
        """Run check ``fn`` (returns None or a mismatch message)."""
        if not op["ok"]:
            return
        t0 = time.perf_counter()
        try:
            msg = fn()
        except Exception as e:  # a check that cannot run is a failure
            msg = f"check raised {type(e).__name__}: {e}"
        self.check_s += time.perf_counter() - t0
        if msg:
            self.fail(op, f"{op['kind']}: {what}: {msg}")


def compare(got, want) -> str | None:
    from tools.check_entry import compare as frame_compare

    return frame_compare(got.reset_index(drop=True),
                         want.reset_index(drop=True))


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


class Workload:
    name = ""
    #: engine modules imported before the first cycle
    modules: tuple[str, ...] = ()
    #: cycles a run makes at least
    min_cycles = 1

    def __init__(self, work: str, seed: int, tracer, rec: Recorder):
        self.work = work
        self.size = dict(SIZE)
        self.seed = seed
        self.tracer = tracer
        self.rec = rec
        self.inputs = os.path.join(work, "inputs")
        self.state = os.path.join(work, "state")
        self.n_cycle = 0
        self.info: dict[str, object] = {}

    def prepare(self) -> None:
        raise NotImplementedError

    def setup(self, spark) -> None:
        raise NotImplementedError

    def cycle(self, spark) -> None:
        raise NotImplementedError

    def timed(self, spark, kind: str, leak_key: str, fn):
        """One timed operation; records under ``<leak_key>.leaked_rdds``
        the persistent RDDs it registered and left registered."""
        from harness import persistent_rdds

        before = persistent_rdds(spark)
        op, out = self.rec.timed(kind, fn)
        self.info[f"{leak_key}.leaked_rdds"] = len(
            persistent_rdds(spark) - before)
        return op, out

    def warm_up(self, spark) -> None:
        """Untimed, once before the first cycle: import the engine modules
        the cycle uses, start the Python workers and run a parquet round
        trip with a shuffle on throwaway data."""
        import importlib

        from pyspark.sql import functions as F

        for mod in self.modules:
            importlib.import_module(mod)
        path = os.path.join(self.state, "warm_up")
        (spark.range(0, 10_000, 1, spark.sparkContext.defaultParallelism)
         .mapInPandas(lambda batches: batches, "id long")
         .groupBy((F.col("id") % 7).alias("k")).count()
         .write.mode("overwrite").parquet(path))
        spark.read.parquet(path).collect()

    def traced_extras(self, spark) -> None:
        """Untimed per-cycle work that only the traced run does."""

    def wrap_layers(self) -> None:
        """Wrap the engine functions this workload reaches indirectly."""


# -- pipeline --------------------------------------------------------------


def local_ruleset():
    """Rules whose temporal reach is local (no global statistic), as
    ``ingest_late``'s exact-refresh contract requires."""
    from traval_spark.plans.ruleset import SparkRuleSet

    rs = SparkRuleSet("late-local")
    rs.add_rule("toklen_max", "rule_hardmax", apply_to=0,
                kwargs={"threshold": 100_000.0})
    rs.add_rule("toklen_spike", "rule_spike_detection", apply_to=0,
                kwargs={"threshold": 1e7, "spike_tol": 1e7,
                        "max_gap": "10m", "chunk": "1h"})
    rs.add_rule("final", "rule_combine_nan_or", apply_to=(1, 2))
    return rs


def detector_frames(seqs, seed: int):
    """(series, truth) for the rule-flag pass, derived from the input.

    The series is (source, ts, n_tok). Its ts gets the doc number modulo
    10^6 as microseconds so that (series_id, ts) is a unique key (the
    input has whole-second timestamps that collide). Truth marks a point
    bad where n_tok > FLAG_THRESHOLD, flipped on a seeded 1% of rows so
    that every confusion cell is populated.
    """
    from pyspark.sql import functions as F

    num = F.substring("doc_id", 5, 12).cast("long")
    ts = F.col("ts") + F.make_dt_interval(
        F.lit(0), F.lit(0), F.lit(0),
        ((num % 1_000_000) / 1e6).cast("decimal(18,6)"))
    noise = F.pmod(num * 7919 + seed, F.lit(100)) == 0
    bad = (F.col("n_tok") > FLAG_THRESHOLD) != noise
    value = F.col("n_tok").cast("double")
    series = seqs.select(F.col("source").alias("series_id"),
                         ts.alias("ts"), value.alias("value"))
    truth = seqs.select(F.col("source").alias("series_id"), ts.alias("ts"),
                        F.when(bad, None).otherwise(value).alias("value"))
    return series, truth


def flag_ruleset():
    from traval_spark import pipeline

    rs = pipeline.default_ruleset()
    rs.update_rule("toklen_max", "rule_hardmax", apply_to=0,
                   kwargs={"threshold": FLAG_THRESHOLD})
    return rs


def expected_confusion(seqs, seed: int):
    """Per-step TP/FP/FN/TN of the rule-flag pass by plain filters over
    the input (pandas): only the hardmax step, and the combine step over
    it, can flag anything on this input."""
    import pandas as pd

    num = seqs["doc_id"].str.slice(4).astype("int64")
    flag = (seqs["n_tok"] > FLAG_THRESHOLD).to_numpy()
    bad = flag != ((num * 7919 + seed) % 100 == 0).to_numpy()
    tp, fp = int((flag & bad).sum()), int((flag & ~bad).sum())
    fn, tn = int((~flag & bad).sum()), int((~flag & ~bad).sum())
    rows = [(1, "toklen_max", tp, fp, fn, tn),
            (2, "toklen_spike", 0, 0, tp + fn, fp + tn),
            (3, "toklen_sigma", 0, 0, tp + fn, fp + tn),
            (4, "final", tp, fp, fn, tn)]
    return pd.DataFrame(rows, columns=["step", "rule", "tp", "fp", "fn",
                                       "tn"])


def rollup_frames(seqs) -> dict:
    """The 1m/1h/1d tiers computed directly from raw rows (pandas)."""
    import pandas as pd

    out = {}
    for res, unit in (("1m", "min"), ("1h", "h"), ("1d", "D")):
        g = seqs.assign(bucket=seqs["ts"].dt.floor(unit)).groupby(
            ["source", "bucket"])["n_tok"]
        out[res] = pd.DataFrame({
            "n_points": g.count(), "sum_tok": g.sum(),
            "min_tok": g.min(), "max_tok": g.max(),
        }).reset_index()[TIER_COLS]
    return out


class Pipeline(Workload):
    """From-scratch build, rule-flag pass, no-op resume, late refresh."""

    name = "pipeline"
    modules = ("traval_spark.pipeline", "traval_spark.rollup",
               "traval_spark.compress", "traval_spark.router",
               "traval_spark.plans.detector")

    def prepare(self) -> None:
        import pandas as pd

        s = self.size
        self.seq = inputs.sequences(self.inputs, s["rows"], s["span_days"],
                                    self.seed)
        self.late = inputs.late_batch(self.inputs, self.seq, s["rows"],
                                      s["span_days"], self.seed)
        seqs = self.seqs = inputs.read_sequences(self.seq)
        self.rows = len(seqs)
        # default_ruleset's only rule that can fire here is the hardmax
        self.kept = int((seqs["n_tok"] <= 100_000).sum())
        self.want_confusion = expected_confusion(seqs, self.seed)
        self.want_dirty = list(inputs.late_window(s["span_days"], self.seed))
        late = pd.read_parquet(self.late, columns=list(seqs.columns))
        # the tiers after the late refresh, rolled up from an independent
        # merge of the input and the late batch
        self.want_tiers = rollup_frames(inputs.merge_late(seqs, late))
        self.raw = os.path.join(self.state, "raw")
        self.info.update(rows=self.rows, span_days=s["span_days"])

    def setup(self, spark) -> None:
        from traval_spark import pipeline

        pipeline.init_raw(spark.read.parquet(self.seq), _fresh(self.raw))

    def wrap_layers(self) -> None:
        from traval_spark import pipeline, rollup
        from traval_spark.sources.tierstore import TierStore

        tr = self.tracer
        tr.wrap(pipeline, "clean_sequences", "rules.clean_sequences.build")
        tr.wrap(rollup, "salted_rollup", "rollup.salted_rollup.build")
        tr.wrap(rollup, "rollup_cascade", "rollup.rollup_cascade.build")
        tr.wrap(pipeline, "gap_fill", "rollup.gap_fill.build")
        tr.wrap(pipeline, "partition_fingerprints",
                "tierstore.partition_fingerprints")
        tr.wrap(TierStore, "write_tier", "tierstore.write_tier")
        tr.wrap(TierStore, "stale_days", "tierstore.stale_days")

    def cycle(self, spark) -> None:
        from traval_spark import pipeline

        rec, tr = self.rec, self.tracer
        self.n_cycle += 1
        first = self.n_cycle == 1
        out = _fresh(os.path.join(self.state, f"store{self.n_cycle % 2}"))
        self.out = out

        def build():
            with tr.span("pipeline.run"):
                return pipeline.run(spark, out, input_path=self.seq,
                                    ruleset=pipeline.default_ruleset())

        op, _ = self.timed(spark, "build", "pipeline.run", build)
        if first:
            rec.check(op, "n_points per tier",
                      lambda: self._check_points(out))
            rec.check(op, "verify_cascade", lambda: self._check_cascade(
                spark, out))

        op, cm = self.timed(spark, "flag", "detector.confusion_matrix",
                            lambda: self._flag(spark))
        rec.check(op, "confusion vs plain filter", lambda: compare(
            cm.sort_values("step"), self.want_confusion))

        def resume():
            with tr.span("pipeline.run_resume"):
                return pipeline.run(spark, out, input_path=self.seq,
                                    ruleset=pipeline.default_ruleset(),
                                    resume=True)

        op, m = self.timed(spark, "resume", "pipeline.run_resume",
                           resume)
        rec.check(op, "resume rewrote partitions", lambda: None if not any(
            m["partitions"].values()) else str(m["partitions"]))

        def late():
            with tr.span("pipeline.ingest_late"):
                return pipeline.ingest_late(
                    spark, self.raw, out, spark.read.parquet(self.late),
                    ruleset=local_ruleset())

        op, m = self.timed(spark, "late", "pipeline.ingest_late",
                           late)
        rec.check(op, "dirty days", lambda: None if m["dirty_days"] ==
                  self.want_dirty else f"{m['dirty_days']}")
        if first:
            rec.check(op, "refresh vs recompute",
                      lambda: self._check_refresh(out, m["refreshed_days"]))

    def traced_extras(self, spark) -> None:
        from traval_spark import compress
        from traval_spark.sources.tierstore import TierStore

        # pack_tier's work is fused into two of run()'s jobs; time it on
        # its own over the stored 1m tier
        t1m = TierStore(self.out, spark).read_tier("1m").drop("day")
        with self.tracer.span("compress.pack_tier"):
            (compress.pack_tier(t1m, measures=["sum_tok", "n_points"])
             .write.format("noop").mode("overwrite").save())
        if self.n_cycle == 1:
            ServeProbes(self).run(spark, self.out)

    def _flag(self, spark):
        from traval_spark.plans.detector import Detector

        series, truth = detector_frames(spark.read.parquet(self.seq),
                                        self.seed)
        det = Detector(series, truth)
        det.apply_ruleset(flag_ruleset())
        with self.tracer.span("detector.confusion_matrix"):
            return det.confusion_matrix().toPandas()

    def _check_points(self, out) -> str | None:
        got = {t: int(stored_tier(out, t)["n_points"].sum())
               for t in ("1m", "1h", "1d")}
        if set(got.values()) != {self.kept}:
            return f"{got} vs {self.kept} input rows kept"
        return None

    def _check_cascade(self, spark, out) -> str | None:
        from traval_spark.sources.tierstore import TierStore, verify_cascade

        store = TierStore(out, spark)
        bad = verify_cascade(store, "1m", "1h", spark).unionByName(
            verify_cascade(store, "1h", "1d", spark)).count()
        return f"{bad} mismatched rows" if bad else None

    def _check_refresh(self, out, days) -> str | None:
        """The refreshed days of every tier against a pandas rollup of the
        input merged with the late batch (the late-refresh rules flag
        nothing on n_tok in [1, 256], so the cleaned rows are the merged
        rows)."""
        for t, want in self.want_tiers.items():
            got = stored_tier(out, t)
            got = got[got["bucket"].dt.strftime("%Y-%m-%d").isin(days)]
            want = want[want["bucket"].dt.strftime("%Y-%m-%d").isin(days)]
            msg = compare(got, want)
            if msg:
                return f"tier {t}: {msg}"
        return None


def stored_tier(out: str, tier: str):
    """A stored tier's rows, read straight from its parquet files."""
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(out, tier), columns=TIER_COLS
                         ).to_pandas()


# -- serve probes ----------------------------------------------------------


def read_mix(span_days: int, seed: int) -> list[tuple]:
    """The seeded read requests: each kind once, in a seeded order."""
    import datetime as dt

    rng = np.random.default_rng([seed, 3])
    d0 = dt.date.fromisoformat(inputs.START)

    def day(k):
        return (d0 + dt.timedelta(days=int(k))).isoformat()

    a = int(rng.integers(0, span_days - 1))
    b = int(rng.integers(0, max(1, span_days - 6)))
    reqs = [("read_1m", day(a), day(a + int(rng.integers(0, 2)))),
            ("read_1h", day(b), day(min(b + 6, span_days - 1))),
            ("read_1d", day(0), day(span_days - 1)),
            ("unpack_full",),
            ("unpack_pruned", day(int(rng.integers(0, span_days)))),
            ("verify_cascade",)]
    return [reqs[i] for i in rng.permutation(len(reqs))]


class ServeProbes:
    """Reads of a built store through the router, the Gorilla decoder and
    the cascade audit, each checked against the same aggregate computed
    directly from raw. Traced runs only: they give the read layers'
    per-layer figures without adding to the timed cycle."""

    def __init__(self, wl: Pipeline):
        self.wl = wl
        self.mix = read_mix(wl.size["span_days"], wl.seed)
        # routed reads see the late refresh; the packed 1m view is a
        # derived view that ingest_late leaves as built
        self.want = wl.want_tiers
        self.want_packed = rollup_frames(wl.seqs)["1m"]

    def expected(self, req):
        import pandas as pd

        kind = req[0]
        if kind.startswith("read_"):
            w = self.want[kind[5:]]
            day = w["bucket"].dt.strftime("%Y-%m-%d")
            return w[(day >= req[1]) & (day <= req[2])]
        w = self.want_packed
        if kind == "unpack_pruned":
            w = w[w["bucket"].dt.strftime("%Y-%m-%d") == req[1]]
        return pd.concat([
            pd.DataFrame({"source": w["source"], "measure": m,
                          "bucket": w["bucket"],
                          "value": w[m].astype("float64")})
            for m in ("sum_tok", "n_points")])

    def request(self, spark, store_dir, req):
        import pandas as pd
        from traval_spark import compress, router
        from traval_spark.sources import tierstore

        tr = self.wl.tracer
        kind = req[0]
        store = tierstore.TierStore(store_dir, spark)
        if kind.startswith("read_"):
            with tr.span(f"router.{kind}"):
                with tr.span(f"router.{kind}.plan"):
                    df = router.read_resolution(store, kind[5:], req[1],
                                                req[2], spark=spark)
                return df.toPandas()
        if kind == "verify_cascade":
            with tr.span("tierstore.verify_cascade"):
                return tierstore.verify_cascade(store, "1m", "1h",
                                                spark).count()
        packed = spark.read.parquet(os.path.join(store_dir, "1m_gorilla"))
        bounds = {}
        if kind == "unpack_pruned":
            lo = pd.Timestamp(req[1])
            bounds = {"ts_min": lo,
                      "ts_max": lo + pd.Timedelta("1D") - pd.Timedelta("1us")}
        with tr.span(f"compress.{kind}"):
            return compress.unpack_tier(packed, **bounds).toPandas()

    def run(self, spark, store_dir) -> None:
        rec = self.wl.rec
        for req in self.mix:
            op, got = rec.timed(req[0], lambda: self.request(
                spark, store_dir, req), probe=True)
            if req[0] == "verify_cascade":
                rec.check(op, "cascade mismatches",
                          lambda: f"{got} rows" if got else None)
            else:
                rec.check(op, f"{req} vs raw",
                          lambda: compare(got, self.expected(req)))


# -- query mix -------------------------------------------------------------


class QueryMix(Workload):
    """Entry-query leaves, each run cold after clearCache()."""

    name = "query_mix"
    #: every leaf is timed twice per run; its figure is the median (mean)
    min_cycles = 2
    modules = ("traval_spark.operators.monitor", "traval_spark.operators.text",
               "traval_spark.operators.dedup",
               "traval_spark.operators.similarity",
               "traval_spark.comparison")

    def prepare(self) -> None:
        import duckdb

        import __spark_entry__ as entry

        s = self.size
        self.sf_dir = inputs.query_tables(
            self.inputs, self.seed, s["events"], s["documents"],
            s["embeddings"])
        # workers import traval_spark from the checkout through the
        # session's executor PYTHONPATH; the entry's own zip shipping
        # writes to /tmp, outside the checkout
        entry._ship_package = lambda spark: None
        self.queries = entry.queries()
        con = duckdb.connect()
        for t in ("events", "documents", "embeddings"):
            con.sql(f"create view {t} as select * from "
                    f"'{self.sf_dir}/{t}.parquet'")
        sql = entry.oracle_sql()
        self.want = {q: con.sql(sql[q]).df() for q in QUERY_LEAVES}
        con.close()
        self.info.update(queries=list(QUERY_LEAVES), tables=self.sf_dir)

    def setup(self, spark) -> None:
        for t in ("events", "documents", "embeddings"):
            spark.read.parquet(f"{self.sf_dir}/{t}.parquet").count()

    def cycle(self, spark) -> None:
        self.n_cycle += 1
        tr = self.tracer
        for name in QUERY_LEAVES:
            spark.catalog.clearCache()
            times = {}

            def leaf():
                t0 = time.perf_counter()
                with tr.span(f"q.{name}.build"):
                    df = self.queries[name](spark, self.sf_dir)
                t1 = time.perf_counter()
                with tr.span(f"q.{name}.exec"):
                    out = df.toPandas()
                times.update(build=t1 - t0, exec=time.perf_counter() - t1)
                return out

            op, got = self.timed(spark, name, f"q.{name}", leaf)
            op.update(times)
            self.rec.check(op, "oracle", lambda: compare(got, self.want[name]))
        spark.catalog.clearCache()


WORKLOADS = {w.name: w for w in (Pipeline, QueryMix)}
