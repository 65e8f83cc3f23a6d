"""Per-layer spans and Spark counters for the traced run (``--trace 1``).

The tracer patches each layer's public function where the scheduler looks
it up, and records one span per call.  DataFrames are lazy, so a wrapper
first materialises the layer's DataFrame inputs (persist + count, outside
any span) and then forces the layer's output inside its span: the span
times that layer's own work.  Each span runs its Spark jobs under its own
job group; after the crawl the jobs' stages are read from Spark's status
store (tasks, executor run time, shuffle bytes, spill).  Jobs the tracer
itself adds (input materialisation, the counts behind the ratios) run
under a separate group and are left out.

Spans are kept in memory and written to JSON when the run ends.  Only
spans under a ``crawl`` span (seed to final schedule) feed the per-crawl
metrics; the resume that follows feeds ``tableio.load_s``.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

TRACER_GROUP = "perfbench-tracer"

# name -> unit, in output order
PER_LAYER = {
    "frontier.enqueue_s": "s", "frontier.accept_frac": "ratio",
    "frontier.dup_seen_frac": "ratio", "frontier.round_self_s": "s",
    "frontier.winners_per_round": "count", "frontier.pending_peak": "count",
    "session.checkpoints": "count", "session.checkpoint_s": "s",
    "spark.jobs_per_round": "count", "spark.stages_per_round": "count",
    "spark.tasks_per_round": "count", "spark.busy_frac": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "urls.canonicalize_s": "s", "urls.rows": "count", "urls.slowpath_frac": "ratio",
    "url_filters.apply_s": "s", "url_filters.dropped_frac": "ratio",
    "robots.eval_s": "s", "robots.denied_frac": "ratio",
    "urlseen.filter_new_s": "s", "urlseen.segments_s": "s",
    "urlseen.segment_bytes": "bytes", "urlseen.bloom_fpp": "ratio",
    "ordering.global_seq_s": "s",
    "fetch.validate_s": "s", "fetch.rows": "count", "fetch.failed_rows": "count",
    "tableio.commit_s": "s", "tableio.commit_bytes": "bytes", "tableio.load_s": "s",
    "trace.overhead_s": "s",
}

# Which end-to-end metrics each layer's metrics should move, and on which
# workload: (per-layer metrics, end-to-end metrics, workload).  A later
# change that claims a gain on a layer checks its claim against this row.
LAYER_MAP = [
    (("frontier.enqueue_s", "frontier.accept_frac", "frontier.dup_seen_frac"),
     ("enqueue_urls_per_s",), "recrawl"),
    (("frontier.round_self_s", "frontier.winners_per_round", "frontier.pending_peak"),
     ("round_s.p50", "urls_per_s"), "drain"),
    (("session.checkpoints", "session.checkpoint_s"), ("round_s.p50",), "drain, recrawl"),
    (("spark.jobs_per_round", "spark.stages_per_round", "spark.tasks_per_round",
      "spark.busy_frac"), ("round_s.p50",), "recrawl"),
    (("spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes"),
     ("urls_per_s", "peak_rss_mb"), "drain"),
    (("urls.canonicalize_s", "urls.rows", "urls.slowpath_frac"),
     ("enqueue_urls_per_s",), "recrawl"),
    (("url_filters.apply_s", "url_filters.dropped_frac"), ("enqueue_urls_per_s",), "recrawl"),
    (("robots.eval_s", "robots.denied_frac"), ("enqueue_urls_per_s",), "recrawl"),
    (("urlseen.filter_new_s", "urlseen.segments_s", "urlseen.segment_bytes",
      "urlseen.bloom_fpp"), ("enqueue_urls_per_s", "round_s.p50"), "recrawl"),
    (("ordering.global_seq_s",), ("urls_per_s",), "drain"),
    (("fetch.validate_s", "fetch.rows", "fetch.failed_rows"),
     ("round_s.p50", "urls_per_s"), "recrawl"),
    (("tableio.commit_s", "tableio.commit_bytes", "tableio.load_s"),
     ("commit_s", "resume_s"), "recrawl"),
]


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.sid}"

    @property
    def dur(self) -> float:
        return self.end - self.start


def _is_df(x) -> bool:
    from pyspark.sql import DataFrame

    return isinstance(x, DataFrame)


class Tracer:
    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.forced: list = []
        self.undo: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    def _set_group(self) -> None:
        if self.stack:
            self.sc.setJobGroup(self.stack[-1].group, self.stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name,
                 self.stack[-1].sid if self.stack else None, time.perf_counter())
        self.spans.append(s)
        self.stack.append(s)
        self._set_group()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            self._set_group()

    @contextmanager
    def untraced(self):
        """Run the tracer's own jobs outside every span's job group."""
        self.sc.setJobGroup(TRACER_GROUP, "perfbench tracer")
        try:
            yield
        finally:
            self._set_group()

    def _force(self, df) -> int:
        df.persist()
        self.forced.append(df)
        return df.count()

    def release(self) -> None:
        """Unpersist what the wrappers materialised."""
        for df in self.forced:
            df.unpersist()
        self.forced = []

    # -- patching --------------------------------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self.undo.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _layer(self, name: str, force_args: tuple[int, ...], count=None,
               force_out: bool = True):
        """Wrapper factory: materialise args[force_args], span the call with
        its output forced, then ``count(span, args, out)`` untraced."""
        def make(fn):
            def wrapper(*args, **kwargs):
                with self.untraced():
                    for i in force_args:
                        if i < len(args) and _is_df(args[i]):
                            self._force(args[i])
                with self.span(name) as s:
                    out = fn(*args, **kwargs)
                    if force_out:
                        s.counts["rows"] = self._force(out)
                if count is not None:
                    with self.untraced():
                        count(s, args, out)
                return out
            return wrapper
        return make

    def install(self) -> None:
        from pyspark.sql import functions as F

        import gigaspark.operators.fetch as fetch
        import gigaspark.operators.frontier as frontier
        import gigaspark.operators.ordering as ordering
        import gigaspark.operators.robots as robots
        import gigaspark.operators.urlseen as urlseen
        from gigaspark.functions.urls import canonical_fastpath_col
        from gigaspark.io.tableio import StateStore

        def urls_count(s, args, out):
            url = args[1] if len(args) > 1 else "url"
            s.counts["slow"] = args[0].where(~F.coalesce(
                canonical_fastpath_col(F.col(url)), F.lit(False))).count()

        def filters_count(s, args, out):
            s.counts["dropped"] = out.where(
                (F.col("priority") < 0) | F.col("force_delete")).count()

        def robots_count(s, args, out):
            s.counts["denied"] = out.where(~F.col("robots_allowed")).count()

        def seen_count(s, args, out):
            cand, _, segments, p = args[:4]
            if segments is None:
                return
            # truly-new keys the bloom still sent to the exact join
            probed = urlseen.probe(cand, segments, p).where(F.col("maybe_seen"))
            s.counts["bloom_fp"] = probed.join(
                out.select("urlhash48"), "urlhash48", "semi").count()

        def segments_count(s, args, out):
            s.counts["bytes"] = out.agg(F.sum(F.length("bits"))).collect()[0][0] or 0

        def fetch_count(s, args, out):
            s.counts["failed"] = out.where(F.col("image_id").isNotNull() & ~(
                F.col("pixels_ok") & F.col("caption_ok") & F.col("phash_ok"))).count()

        self._patch(frontier, "with_url_columns",
                    self._layer("urls.canonicalize", (0,), urls_count))
        self._patch(frontier, "apply_url_filters",
                    self._layer("url_filters.apply", (0,), filters_count))
        self._patch(frontier, "stable_checkpoint",
                    self._layer("session.checkpoint", (), force_out=False))
        self._patch(robots, "eval_allowed",
                    self._layer("robots.eval", (0,), robots_count))
        self._patch(urlseen, "filter_new",
                    self._layer("urlseen.filter_new", (0, 1, 2), seen_count))
        self._patch(urlseen, "build_segments",
                    self._layer("urlseen.segments", (0,), segments_count))
        self._patch(urlseen, "merge_segments",
                    self._layer("urlseen.segments", (0, 1), segments_count))
        self._patch(fetch, "validate_fetch",
                    self._layer("fetch.validate", (0,), fetch_count))
        self._patch(ordering, "with_global_seq",
                    self._layer("ordering.global_seq", (0,)))

        tracer = self

        def commit(fn):
            def wrapper(store, snapshot_id, tables, meta):
                with tracer.untraced():
                    for df in tables.values():
                        tracer._force(df)
                with tracer.span("tableio.commit") as s:
                    manifest = fn(store, snapshot_id, tables, meta)
                s.counts["bytes"] = sum(f["bytes"] for files in manifest["lineage"].values()
                                        for f in files)
                return manifest
            return wrapper

        def load(fn):
            def wrapper(store, spark, manifest):
                with tracer.span("tableio.load"):
                    tables = fn(store, spark, manifest)
                    for df in tables.values():
                        tracer._force(df)
                return tables
            return wrapper

        self._patch(StateStore, "commit", commit)
        self._patch(StateStore, "load_tables", load)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self.undo):
            setattr(owner, attr, orig)
        self.undo = []
        self.release()

    def attach(self, sched) -> None:
        """Span the scheduler's own entry points on this instance."""
        def spanned(name, fn, after):
            def wrapper(*args, **kwargs):
                with self.span(name) as s:
                    out = fn(*args, **kwargs)
                    after(s, out)
                return out
            return wrapper

        sched.enqueue = spanned("frontier.enqueue", sched.enqueue,
                                lambda s, m: s.counts.update(m))
        sched.run_round = spanned("frontier.round", sched.run_round,
                                  lambda s, n: s.counts.update(sched.metrics[-1]))
        sched.checkpoint = spanned("frontier.checkpoint", sched.checkpoint,
                                   lambda s, m: None)

    # -- results ---------------------------------------------------------
    def _read_spark_counters(self) -> None:
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:   # private API: fall back to giving the bus time
            time.sleep(2.0)
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for s in self.spans:
            acc = dict.fromkeys(("jobs", "stages", "tasks", "run_ms", "shuffle_read",
                                 "shuffle_write", "spill"), 0)
            seen: set[int] = set()
            for job in tracker.getJobIdsForGroup(s.group):
                acc["jobs"] += 1
                info = tracker.getJobInfo(job)
                for sid in (info.stageIds if info else ()):
                    if sid in seen:
                        continue
                    seen.add(sid)
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() != "COMPLETE":
                        continue
                    acc["stages"] += 1
                    acc["tasks"] += sd.numCompleteTasks()
                    acc["run_ms"] += sd.executorRunTime()
                    acc["shuffle_read"] += sd.shuffleReadBytes()
                    acc["shuffle_write"] += sd.shuffleWriteBytes()
                    acc["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            s.spark = acc

    def _inclusive(self, s: Span, children: dict[int, list[Span]]) -> dict:
        tot = dict(s.spark)
        for c in children.get(s.sid, ()):
            for k, v in self._inclusive(c, children).items():
                tot[k] += v
        return tot

    def metrics(self, untraced_walls: list[float], traced_walls: list[float]) -> dict:
        """Per-layer metrics as {name: (value, unit)}."""
        self._read_spark_counters()
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        crawls = [s for s in self.spans if s.name == "crawl" and s.parent is None]
        in_crawl: list[Span] = []
        todo = list(crawls)
        while todo:
            s = todo.pop()
            in_crawl.append(s)
            todo.extend(children.get(s.sid, ()))
        by = {}
        for s in in_crawl:
            by.setdefault(s.name, []).append(s)

        n = max(1, len(crawls))
        med = statistics.median

        def dur(name):
            return sum(s.dur for s in by.get(name, ())) / n

        def count(name, key):
            return sum(s.counts.get(key, 0) for s in by.get(name, ()))

        def frac(a, b):
            return a / b if b else 0.0

        rounds = by.get("frontier.round", [])
        enq = by.get("frontier.enqueue", [])
        loads = [s for s in self.spans if s.name == "tableio.load"]
        commits = by.get("tableio.commit", [])
        ckpt_in_rounds = [c for r in rounds for c in self._descendants(r, children)
                          if c.name == "session.checkpoint"]
        round_incl = [self._inclusive(r, children) for r in rounds]
        crawl_incl = [self._inclusive(c, children) for c in crawls]
        nr = max(1, len(rounds))
        out = {
            "frontier.enqueue_s": dur("frontier.enqueue"),
            "frontier.accept_frac": frac(count("frontier.enqueue", "accepted"),
                                         count("frontier.enqueue", "deduped")),
            "frontier.dup_seen_frac": frac(count("frontier.enqueue", "dup_seen"),
                                           count("frontier.enqueue", "deduped")),
            "frontier.round_self_s": med(
                [r.dur - sum(c.dur for c in children.get(r.sid, ())
                             if c.name == "frontier.enqueue") for r in rounds] or [0.0]),
            "frontier.winners_per_round": count("frontier.round", "emitted") / nr,
            "frontier.pending_peak": max([r.counts.get("pending", 0) for r in rounds]
                                         + [0]),
            "session.checkpoints": len(ckpt_in_rounds) / nr,
            "session.checkpoint_s": sum(c.dur for c in ckpt_in_rounds) / nr,
            "spark.jobs_per_round": sum(r["jobs"] for r in round_incl) / nr,
            "spark.stages_per_round": sum(r["stages"] for r in round_incl) / nr,
            "spark.tasks_per_round": sum(r["tasks"] for r in round_incl) / nr,
            "spark.busy_frac": frac(sum(c["run_ms"] for c in crawl_incl) / 1000.0,
                                    sum(c.dur for c in crawls) * self.cores),
            "spark.shuffle_write_bytes": sum(c["shuffle_write"] for c in crawl_incl) / n,
            "spark.shuffle_read_bytes": sum(c["shuffle_read"] for c in crawl_incl) / n,
            "spark.spill_bytes": sum(c["spill"] for c in crawl_incl) / n,
            "urls.canonicalize_s": dur("urls.canonicalize"),
            "urls.rows": count("urls.canonicalize", "rows") / n,
            "urls.slowpath_frac": frac(count("urls.canonicalize", "slow"),
                                       count("urls.canonicalize", "rows")),
            "url_filters.apply_s": dur("url_filters.apply"),
            "url_filters.dropped_frac": frac(count("url_filters.apply", "dropped"),
                                             count("url_filters.apply", "rows")),
            "robots.eval_s": dur("robots.eval"),
            "robots.denied_frac": frac(count("robots.eval", "denied"),
                                       count("robots.eval", "rows")),
            "urlseen.filter_new_s": dur("urlseen.filter_new"),
            "urlseen.segments_s": dur("urlseen.segments"),
            "urlseen.segment_bytes": max([s.counts.get("bytes", 0)
                                          for s in by.get("urlseen.segments", ())] + [0]),
            "urlseen.bloom_fpp": frac(count("urlseen.filter_new", "bloom_fp"),
                                      count("urlseen.filter_new", "rows")),
            "ordering.global_seq_s": dur("ordering.global_seq"),
            "fetch.validate_s": dur("fetch.validate"),
            "fetch.rows": count("fetch.validate", "rows") / n,
            "fetch.failed_rows": count("fetch.validate", "failed") / n,
            "tableio.commit_s": med([s.dur for s in commits] or [0.0]),
            "tableio.commit_bytes": frac(count("tableio.commit", "bytes"), len(commits)),
            "tableio.load_s": med([s.dur for s in loads] or [0.0]),
            "trace.overhead_s": med(traced_walls) - med(untraced_walls),
        }
        return {k: (out[k], u) for k, u in PER_LAYER.items()}

    @staticmethod
    def _descendants(s: Span, children: dict[int, list[Span]]) -> list[Span]:
        out, todo = [], list(children.get(s.sid, ()))
        while todo:
            c = todo.pop()
            out.append(c)
            todo.extend(children.get(c.sid, ()))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"layer_map": LAYER_MAP,
                       "spans": [asdict(s) for s in self.spans]}, f)
