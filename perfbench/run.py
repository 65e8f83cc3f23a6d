"""Crawl-frontier benchmark: seeded workloads through CrawlScheduler.

Usage (from the repository root)::

    python3 perfbench/run.py --workload drain --seed 1 --seconds 10 --trace 0

One Python process, the Spark driver, runs
``gigaspark.operators.frontier.CrawlScheduler`` on ``local[<cores>]``.
Set-up is session start, one warm-up crawl on a small drain sample, and
input generation, fixture load and scheduler construction, the last
three repeated SETUP_REPS times (median taken).  Then whole crawls run
back to back for ``--seconds``, at least one (closed loop: a round
starts only after the previous one returned).  Before each crawl the
seed enqueue is also timed on fresh schedulers (SEED_REPS in all).
Each crawl seeds the frontier and runs the workload's rounds, committing
state every few rounds.  At the first snapshot it resumes from that
snapshot and the resumed scheduler runs the remaining rounds; then the
final schedule is materialised.  Every schedule is compared with
``tests/oracle_sim`` outside the timed region; the resumed state's
schedule must also equal the uninterrupted one, and every fetched row
that has a payload must pass its pixel, caption and phash checks.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of perfbench/trace.py.  The last line of standard output is one
JSON object; the exit code is non-zero when any operation failed.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field, replace
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
CORES = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "1g"
SETUP_REPS = 2
RESUMES = 1          # resumes timed at a crawl's first snapshot (median)
SEED_REPS = 3        # seed enqueues timed per crawl: its own and two on
                     # fresh schedulers, for a steadier enqueue_urls_per_s
WORKLOADS = ("drain", "recrawl")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; tiny is the self-test size")
    return ap.parse_args(argv)


def start_session(work: Path):
    from gigaspark.session import get_spark

    spark = get_spark("perfbench", cores=CORES, extra={
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        # the traced run reads every job's stages after the crawl
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None or gw.proc is None:
        return
    gw.proc.stdin.close()   # the gateway JVM exits at end of its stdin
    try:
        gw.proc.wait(timeout=60)
    except Exception:
        gw.proc.kill()
        gw.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def load_fixtures(spark, fix_dir: str) -> dict:
    return {f[:-len(".parquet")]: spark.read.parquet(os.path.join(fix_dir, f))
            for f in sorted(os.listdir(fix_dir)) if f.endswith(".parquet")}


def timed(fn, sink: list[float]):
    def wrapper(*args, **kwargs):
        t = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            sink.append(time.perf_counter() - t)
    return wrapper


def schedule_rows(df) -> list[tuple[int, int, int, int]]:
    pdf = df.select("seq", "round", "urlhash48", "scheduled_time_ms").toPandas()
    return sorted(zip(pdf["seq"].tolist(), pdf["round"].tolist(),
                      pdf["urlhash48"].tolist(), pdf["scheduled_time_ms"].tolist()))


@dataclass
class Crawl:
    """Measurements and check results of one crawl."""

    wall_s: float = 0.0
    emitted: int = 0
    round_s: list[float] = field(default_factory=list)
    enqueue_s: list[float] = field(default_factory=list)
    commit_s: list[float] = field(default_factory=list)
    resume_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    payload_rows: int = 0
    errors: list[str] = field(default_factory=list)


class Bench:
    def __init__(self, args: argparse.Namespace, work: Path):
        self.args = args
        self.work = work
        self.spark = None
        self.n_crawls = 0

    # -- set-up ----------------------------------------------------------
    def setup(self) -> tuple[dict, object, dict]:
        """Session start and a warm-up crawl on a small sample happen once
        per process, as in a long-running crawler; input generation,
        fixture load and scheduler construction are repeated SETUP_REPS
        times.  Returns the set-up timings, the workload and its fixtures."""
        from gigaspark.operators.frontier import CrawlConfig, CrawlScheduler
        from perfbench.workloads import generate

        name, seed = self.args.workload, self.args.seed
        t = time.perf_counter()
        self.spark = start_session(self.work)
        session_s = time.perf_counter() - t

        t = time.perf_counter()
        # The warm-up is a tiny drain for every workload: one round and one
        # commit, and the crawl ends at its first snapshot, so the resume
        # runs but no round follows it.  It warms the JVM, Spark and the
        # frontier's common paths; a harvesting round has seconds of fixed
        # cost at any size, and warming one would add a sixth to a
        # recrawl run.
        sample = generate("drain", str(self.work / "sample"), seed, "tiny")
        sample = replace(sample, rounds=1, checkpoint_every=1)
        self.crawl(sample, load_fixtures(self.spark, sample.fix_dir), None)
        warmup_s = time.perf_counter() - t

        reps = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl = generate(name, str(self.work / "in"), seed, self.args.scale)
            fx = load_fixtures(self.spark, wl.fix_dir)
            CrawlScheduler(self.spark, fx, CrawlConfig(**wl.config))
            reps.append(time.perf_counter() - t)
        return {"session_s": session_s, "warmup_s": warmup_s,
                "inputs_s": reps}, wl, fx

    # -- one crawl -------------------------------------------------------
    def instrument(self, sched, c: "Crawl", tracer):
        sched.enqueue = timed(sched.enqueue, c.enqueue_s)
        sched.checkpoint = timed(sched.checkpoint, c.commit_s)
        if tracer is not None:
            tracer.attach(sched)
        return sched

    def crawl(self, wl, fx: dict, want, tracer=None) -> Crawl:
        """Seed and run ``wl.rounds`` rounds, committing state after every
        ``wl.checkpoint_every``-th round.  At the first snapshot the crawl
        is interrupted: it resumes from the snapshot (RESUMES times, timed)
        and the resumed scheduler runs the remaining rounds.  ``want`` is
        the oracle schedule (None: warm-up, nothing checked).

        The benchmark commits between rounds itself, instead of through
        ``CrawlConfig.checkpoint_every``, so that every timed round does
        the same kind of work and ``round_s`` has one mode."""
        from gigaspark.operators.frontier import CrawlConfig, CrawlScheduler
        from perfbench.gate import first_divergence

        c = Crawl()
        checked = want is not None
        state_dir = str(self.work / "state" / f"crawl{self.n_crawls}")
        self.n_crawls += 1
        cfg = CrawlConfig(**wl.config)
        for _ in range(SEED_REPS - 1 if checked and not self.args.trace else 0):
            # extra samples of the write path, outside the crawl's wall time
            self.instrument(CrawlScheduler(self.spark, fx, cfg), c, None).seed(fx["seeds"])
        sched = self.instrument(CrawlScheduler(self.spark, fx, cfg, state_dir), c, tracer)
        untraced = tracer.untraced if tracer is not None else nullcontext
        paused = 0.0
        with tracer.span("crawl") if tracer is not None else nullcontext():
            t0 = time.perf_counter()
            sched.seed(fx["seeds"])
            while sched.round < wl.rounds and not (
                    sched.metrics and sched.metrics[-1]["pending"] == 0):
                t = time.perf_counter()
                sched.run_round()
                c.round_s.append(time.perf_counter() - t)
                if sched.round % wl.checkpoint_every:
                    continue
                sched.checkpoint()
                if c.resume_s:
                    continue
                t = time.perf_counter()
                if checked:
                    with untraced():
                        before = schedule_rows(sched.emitted_df())
                        self.check_payloads(sched, c)
                for _ in range(RESUMES):
                    r = time.perf_counter()
                    res = CrawlScheduler.resume(self.spark, fx, state_dir, cfg)
                    c.resume_s.append(time.perf_counter() - r)
                if checked:
                    with untraced():
                        div = first_divergence(schedule_rows(res.emitted_df()), before)
                    if div is not None:
                        c.failed += RESUMES
                        c.errors.append(f"resumed schedule differs at {div[1]}")
                sched = self.instrument(res, c, tracer)
                paused += time.perf_counter() - t
            em = sched.emitted_df().localCheckpoint(eager=True)
            c.wall_s = time.perf_counter() - t0 - paused
        if not checked:
            em.unpersist()
            return c
        got = schedule_rows(em)
        em.unpersist()
        c.emitted = len(got)
        self.check_payloads(sched, c)
        c.attempted += (len(c.round_s) + len(c.enqueue_s) + len(c.commit_s)
                        + len(c.resume_s))
        div = first_divergence(got, want)
        if div is not None:
            rnd, msg = div
            c.failed += sum(1 for m in sched.metrics if m["round"] >= rnd)
            c.errors.append(f"schedule differs from oracle at {msg}")
        return c

    @staticmethod
    def check_payloads(sched, c: Crawl) -> None:
        """Every fetched row that has a payload must decode to its golden
        pixels, caption and perceptual hash."""
        from pyspark.sql import functions as F

        fetched = sched.fetched_df()
        if fetched is None:
            return
        row = fetched.where(F.col("image_id").isNotNull()).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((~(F.col("pixels_ok") & F.col("caption_ok") & F.col("phash_ok")))
                  .cast("long")).alias("bad")).collect()[0]
        n, bad = int(row["n"]), int(row["bad"] or 0)
        c.payload_rows += n
        c.attempted += n
        if bad:
            c.failed += bad
            c.errors.append(f"{bad} of {n} payload rows failed")

    # -- the run ---------------------------------------------------------
    def run(self) -> dict:
        from perfbench.gate import oracle_schedule

        args = self.args
        setup, wl, fx = self.setup()
        setup_s = setup["session_s"] + setup["warmup_s"] + statistics.median(setup["inputs_s"])
        t = time.perf_counter()
        want, batches = oracle_schedule(wl)
        setup["oracle_s"] = time.perf_counter() - t
        info = {"workload": wl.name, "seed": args.seed, "cores": CORES,
                "driver_memory": DRIVER_MEMORY, "rounds": wl.rounds,
                "shape": wl.shape, "oracle_rows": len(want), "setup": setup}

        tracer = None
        crawls: list[Crawl] = []
        traced: list[Crawl] = []
        start = time.perf_counter()
        failed_early = None
        try:
            # trace mode: one untraced crawl for the overhead baseline first
            while (time.perf_counter() - start < args.seconds or not crawls
                   or (args.trace and not traced)):
                if args.trace and crawls and tracer is None:
                    from perfbench.trace import Tracer
                    tracer = Tracer(self.spark, CORES)
                    tracer.install()
                if tracer is None:
                    crawls.append(self.crawl(wl, fx, want))
                else:
                    traced.append(self.crawl(wl, fx, want, tracer))
                    tracer.release()
                gc.collect()
                self.spark._jvm.System.gc()   # lets Spark drop dead checkpoints
        except Exception as e:  # a raising operation fails the run
            failed_early = f"{type(e).__name__}: {e}"
        finally:
            if tracer is not None:
                tracer.uninstall()

        every = crawls + traced
        attempted = sum(c.attempted for c in every) or 1
        failed = sum(c.failed for c in every) + (failed_early is not None)
        errors = [e for c in every for e in c.errors]
        if failed_early:
            errors.append(failed_early)
        info.update({"crawls": len(crawls), "traced_crawls": len(traced),
                     "crawl_s": [c.wall_s for c in crawls],
                     "round_s": [t for c in crawls for t in c.round_s],
                     "enqueue_s": [t for c in crawls for t in c.enqueue_s],
                     "commit_s": [t for c in crawls for t in c.commit_s],
                     "resume_s": [t for c in crawls for t in c.resume_s],
                     "payload_rows": sum(c.payload_rows for c in every),
                     "failed_frac": failed / attempted, "errors": errors[:5]})

        if args.trace:
            metrics = {}
            if tracer is not None and traced and crawls:
                metrics = tracer.metrics([c.wall_s for c in crawls],
                                         [c.wall_s for c in traced])
                tracer.write(str(self.work.parent / f"trace-{wl.name}-{args.seed}.json"))
        else:
            metrics = self.end_to_end(setup_s, crawls, batches)
        self.close()
        if not args.trace and crawls:
            metrics["peak_rss_mb"] = (
                resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024.0, "MB")
        print("info " + json.dumps(info), flush=True)
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}

    @staticmethod
    def end_to_end(setup_s: float, crawls: list[Crawl], batches: list[int]) -> dict:
        """``batches``: raw URLs of each enqueue call of one crawl, the
        seed batch first."""
        if not crawls:
            return {}
        med = statistics.median
        raw_urls = sum(batches) + (SEED_REPS - 1) * batches[0]
        return {
            "setup_s": (setup_s, "s"),
            "urls_per_s": (med(c.emitted / c.wall_s for c in crawls), "1/s"),
            "round_s.p50": (med(t for c in crawls for t in c.round_s), "s"),
            "enqueue_urls_per_s": (raw_urls * len(crawls)
                                   / sum(t for c in crawls for t in c.enqueue_s), "1/s"),
            "commit_s": (med(t for c in crawls for t in c.commit_s), "s"),
            "resume_s": (med(t for c in crawls for t in c.resume_s), "s"),
        }

    def close(self) -> None:
        if self.spark is not None:
            stop_session(self.spark)
            self.spark = None


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "gigaspark").is_dir() or not (ROOT / "tests" / "oracle_sim.py").is_file():
        print(f"perfbench: no gigaspark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # keep every temporary file inside the checkout; the Python workers
    # import gigaspark from it
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the launcher JVM that builds the driver command writes no hsperfdata
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"]))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
