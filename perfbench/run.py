"""Crawl-shaped product benchmark for the KG-construction engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload predict_stub --seed 1 --seconds 10 --trace 0

It generates a seeded crawl-shaped pages corpus (perfbench/corpus.py),
drives the product entry points through ``cli.main(..., spark=...)`` on a
``local[4]`` session, checks the outputs (perfbench/checks.py) and prints,
as the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The line before it
is the full report: samples, corpus parameters and host context.

Workloads: one closed-loop client issuing one batch job at a time.

- ``predict_stub``: ``predict`` with 4 ledger buckets and the stub scorer
  (the fused enumerate+score kernel).
- ``predict_mlp``: the same command with ``--scorer mlp`` (text candidates,
  then per-row featurization and a numpy MLP).

With ``--trace 0`` a run reports the end-to-end metrics:

- ``setup_s``: from process start until the session is up, the Python
  workers are warm and one tiny warm-up job is done.
- ``job_cpu_s``: median CPU seconds (user + system, summed over the
  driver Python, the JVM and the Python workers) of one ``predict`` into
  a fresh output dir; jobs repeat until ``--seconds`` have passed (at
  least one). They run after an untimed half run that stops on the
  ledger's crash hook (``LedgerRun.run(..., fail_after=2)``); the DuckDB
  oracle runs in a child process beside that half run.
- ``resume_cpu_s``: the same for ``cli resume`` finishing that crashed
  run. The wall times of the jobs and the resume, and pages per second,
  are in the report line.
- ``peak_pss_mb``: peak summed PSS of this process tree (driver Python,
  JVM, Python workers) during the jobs and the resume.
- ``write_amp``: bytes a job writes under its output dir per byte of
  input text.

With ``--trace 1`` it reports the per-layer table instead: spans around
calls into each module's public functions on materialized inputs, counts,
the Spark event-log summary of one product job, and the tracing
overhead (the mentions layer in a span minus the same run just before
it, outside one).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from dataclasses import asdict

import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
CORES = 4
N_BUCKETS = 4
PAIR_CAP = 400  # --max-pairs-per-doc: the length tail reaches it
WORKLOADS = {"predict_stub": "stub", "predict_mlp": "mlp"}
PRODUCT_GROUP = "perfbench-product"
DRIVER_MEM = "1g"


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the package from it."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM the launcher starts: no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # a capped driver heap keeps the footprint small on a shared host and
    # the peak memory steadier (an uncapped heap grows by GC timing)
    os.environ["CTRE_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


_prepare_env()

import checks  # noqa: E402
import corpus as C  # noqa: E402
import layers  # noqa: E402
import stats as S  # noqa: E402
from spans import Tracer, parse_event_log  # noqa: E402

from clinicaltransformerrelationextraction_spark.config import (  # noqa: E402
    PipelineConfig,
)
from clinicaltransformerrelationextraction_spark.plans.ledger import (  # noqa: E402
    LedgerRun,
)
from clinicaltransformerrelationextraction_spark.plans.pipeline import (  # noqa: E402
    run_pipeline,
)
from clinicaltransformerrelationextraction_spark.session import (  # noqa: E402
    get_spark,
)

IMPORT_S = S.seconds_since_process_start()
PARAMS = C.CorpusParams()  # 1000 pages; NOTES.md says why


# -- sessions -----------------------------------------------------------------

def start_session(cores: int = CORES, event_dir: str | None = None):
    """A session from the product's own factory plus one tiny warm-up job
    that starts and warms the Python workers."""
    # set either way: the builder keeps options across sessions
    conf = {"spark.eventLog.enabled": "false"}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + event_dir,
            "spark.eventLog.compress": "false",
        }
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      extra_conf=conf)
    (spark.range(64, numPartitions=cores)
     .mapInPandas(lambda it: it, "id long")
     .write.format("noop").mode("overwrite").save())
    return spark


def stop_session(spark, kill_jvm: bool = True) -> None:
    """Stop the context; with ``kill_jvm`` also end the JVM and wait."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if kill_jvm and gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None


# -- inputs -------------------------------------------------------------------

def make_corpus(seed: int) -> str:
    """The seeded pages corpus, cached by (seed, params)."""

    def build(tmp: str) -> None:
        C.write_crawl(C.make_crawl(seed, PARAMS), tmp, PARAMS.n_files)

    return C.cached(os.path.join(WORK, "corpus"),
                    f"crawl-{seed}-{C.params_key(PARAMS)}", build)


def text_bytes(docs_dir: str) -> int:
    t = pq.read_table(docs_dir, columns=["text"])
    return int(pc.sum(pc.binary_length(t["text"])).as_py())


def _args(cmd: str, docs: str, out: str, scorer: str) -> list[str]:
    return [cmd, "--input", docs, "--output", out, "--scorer", scorer,
            "--max-pairs-per-doc", str(PAIR_CAP),
            "--n-buckets", str(N_BUCKETS)]


def _cfg(scorer: str) -> PipelineConfig:
    # what cli._cfg_from builds for the flags in _args
    return PipelineConfig(scorer=scorer, max_pairs_per_doc=PAIR_CAP)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def crash_half(spark, docs: str, out: str, scorer: str) -> bool:
    """Run the first half of a ledger run and stop on the ledger's crash
    hook, as a crashed submit would; True when it stopped there."""
    run = LedgerRun(out_dir=out, n_buckets=N_BUCKETS)
    try:
        run.run(spark.read.parquet(docs), _cfg(scorer),
                fail_after=N_BUCKETS // 2)
    except RuntimeError as ex:
        if "simulated failure" in str(ex):
            return True
        raise
    return False


# -- checks -------------------------------------------------------------------

def ledger_triples(spark, out: str) -> tuple[list[tuple], set[tuple]]:
    """(triple rows, their (doc_id, i1, i2) keys) of a ledger run."""
    cols = list(checks.TRIPLE_COLS)
    pdf = (LedgerRun(out_dir=out, n_buckets=N_BUCKETS).triples(spark)
           .select(*cols, "i1", "i2").toPandas())
    rows = list(pdf[cols].itertuples(index=False, name=None))
    keys = {(int(d), int(a), int(b))
            for d, a, b in zip(pdf["doc_id"], pdf["i1"], pdf["i2"])}
    return rows, keys


def start_oracle(docs: str, scorer: str, run_dir: str) -> checks.Oracle:
    os.makedirs(run_dir, exist_ok=True)
    return checks.Oracle(docs, scorer, PAIR_CAP,
                         os.path.join(run_dir, "oracle.json"))


def check_predict(spark, oracle: dict, job_dirs: list[str],
                  resumed: str | None) -> list[str | None]:
    """One verdict per job dir (None = correct) against the oracle's
    ``expected`` output; the resumed run, when given, is judged against
    the first job and appended last."""
    want_brat = oracle["docs_with_mentions"]
    keys = set(oracle.get("candidate_keys", ()))
    verdicts: list[str | None] = []
    first = None
    for out in job_dirs:
        got, got_keys = ledger_triples(spark, out)
        fp = checks.fingerprint(got)
        first = first or fp
        if "triples" in oracle:
            bad = checks.diff(got, oracle["triples"])
        else:
            stray = got_keys - keys
            bad = (f"{len(stray)} triples are not oracle candidates"
                   if stray else None)
        if bad is None and fp != first:
            bad = "fingerprint differs from the first job"
        if bad is None and spark.read.parquet(f"{out}/brat").count() \
                != want_brat:
            bad = f"brat rows != {want_brat} docs with mentions"
        verdicts.append(bad)
    if resumed is not None:
        fp = checks.fingerprint(ledger_triples(spark, resumed)[0])
        verdicts.append(None if fp == first
                        else "resumed triples differ from the full run")
    return verdicts


# -- trace 0: end-to-end ------------------------------------------------------

def run_e2e(workload: str, seed: int, seconds: float) -> dict:
    scorer = WORKLOADS[workload]
    phases: dict[str, float] = {}
    mark = [time.perf_counter()]

    def lap(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - mark[0]
        mark[0] = now

    docs = make_corpus(seed)
    n_pages = PARAMS.n_pages
    in_bytes = text_bytes(docs)
    host_before = S.host_context()
    run_dir = _fresh(os.path.join(WORK, "run"))
    resume_dir = os.path.join(run_dir, "resumed")
    lap("corpus")
    t0 = time.perf_counter()
    spark = start_session()
    setup_here = IMPORT_S + time.perf_counter() - t0
    lap("setup")
    job_s: list[float] = []
    job_dirs: list[str] = []
    errors: list[str] = []
    # the oracle runs in a child process next to the untimed crash run,
    # and has ended before the timed part and the memory sampling start
    oracle_proc = start_oracle(docs, scorer, run_dir)
    try:
        crashed = crash_half(spark, docs, resume_dir, scorer)
    finally:
        oracle = oracle_proc.result()
    lap("crash")
    job_cpu: list[float] = []
    with S.MemSampler() as mem:

        def cpu() -> float:
            return S.tree_cpu_s(os.getpid(), skip=mem.pid)

        start = time.perf_counter()
        while not job_s or time.perf_counter() - start < seconds:
            out = _fresh(os.path.join(run_dir, f"job{len(job_s)}"))
            c, t = cpu(), time.perf_counter()
            try:
                layers.product(_args("predict", docs, out, scorer), spark)
            except Exception as ex:  # a failed job is counted, not fatal
                errors.append(f"job{len(job_s)}: {ex!r}")
                job_s.append(float("nan"))
                job_cpu.append(float("nan"))
                continue
            job_s.append(time.perf_counter() - t)
            job_cpu.append(cpu() - c)
            job_dirs.append(out)
        lap("jobs")
        c, t = cpu(), time.perf_counter()
        try:
            layers.product(_args("resume", docs, resume_dir, scorer), spark)
            resume_s, resume_cpu = time.perf_counter() - t, cpu() - c
        except Exception as ex:
            errors.append(f"resume: {ex!r}")
            resume_s = resume_cpu = float("nan")
        lap("resume")
    verdicts = check_predict(spark, oracle, job_dirs,
                             resume_dir if crashed else None)
    lap("checks")
    stop_session(spark)
    lap("stop")
    errors += [v for v in verdicts if v]
    if not crashed:
        errors.append("the crashed run did not stop on the crash hook")
    attempted = len(job_s) + 1  # the jobs and the resume
    failed = min(attempted, len(errors))
    job_med = _median(job_s)
    host_after = S.host_context()
    # Job and resume costs are CPU seconds of the whole process tree: on a
    # shared host, time stolen by the hypervisor moved their wall times by
    # up to 40% between runs and their CPU times by under 10%. The wall
    # times stay in the report line.
    metrics = {
        "setup_s": (setup_here, "s"),
        "job_cpu_s": (_median(job_cpu), "s"),
        "resume_cpu_s": (resume_cpu, "s"),
        "peak_pss_mb": (mem.peak_mb, "MB"),
        "write_amp": (S.dir_bytes(job_dirs[0]) / in_bytes
                      if job_dirs else float("nan"), "bytes/byte"),
    }
    report = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "job_s": job_med, "job_s_samples": job_s,
        "job_cpu_s_samples": job_cpu, "resume_s": resume_s,
        "docs_per_s": n_pages / job_med, "phases_s": phases,
        "n_pages": n_pages, "input_text_bytes": in_bytes,
        "corpus": asdict(PARAMS), "pair_cap": PAIR_CAP,
        "errors": errors, "failed_frac": S.failed_frac(attempted, failed),
        "host": {"before": host_before, "after": host_after,
                 "steal_frac": S.steal_frac(host_before, host_after),
                 "mem_samples": mem.samples},
    }
    return _result(metrics, attempted, failed, report)


def _median(xs: list[float]) -> float:
    """Median of the samples of jobs that did not fail (nan for none)."""
    good = [x for x in xs if x == x]
    return S.median(good) if good else float("nan")


def _result(metrics: dict, attempted: int, failed: int, report: dict) -> dict:
    report["metrics"] = {k: v for k, (v, _) in metrics.items()}
    print(json.dumps(report, default=str))
    correct = failed == 0 and all(v == v for v, _ in metrics.values())
    return {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


# -- trace 1: per layer -------------------------------------------------------

def run_traced(workload: str, seed: int) -> dict:
    scorer = WORKLOADS[workload]
    docs = make_corpus(seed)
    host_before = S.host_context()
    run_dir = _fresh(os.path.join(WORK, "run"))
    events = _fresh(os.path.join(run_dir, "events"))
    tr = Tracer(run_id=f"{workload}-{seed}")

    # One local[4] session with the event log on. Writing the layers'
    # inputs is the first work in the JVM, so it also warms the JVM for
    # the traced product job; the event-log summary keeps only that job's
    # group.
    oracle_proc = start_oracle(docs, scorer, run_dir)  # overlaps set-up
    try:
        spark = start_session(event_dir=events)
        inputs = layers.materialize(spark, tr, docs, run_dir, _cfg(scorer),
                                    _cfg("mlp"))
    finally:
        oracle = oracle_proc.result()
    job_dir = _fresh(f"{run_dir}/traced")
    with tr.span("run"):
        spark.sparkContext.setJobGroup(PRODUCT_GROUP, workload)
        with tr.span("job." + workload) as job:
            layers.product(_args("predict", docs, job_dir, scorer), spark)
        spark.sparkContext.setJobGroup("perfbench-layers", "layers")
        errors = [v for v in check_predict(spark, oracle, [job_dir], None)
                  if v]
        triples = LedgerRun(out_dir=job_dir, n_buckets=N_BUCKETS).triples(
            spark)
        with tr.span("predict.layers"):
            out = layers.predict_layers(
                spark, tr, docs, inputs, triples, job_dir, _cfg(scorer),
                _cfg("stub"), _cfg("mlp"), job.duration, N_BUCKETS,
                PAIR_CAP)
    host_after = S.host_context()
    stop_session(spark)

    spark_sum = parse_event_log(_event_files(events), PRODUCT_GROUP)
    out |= {
        "spark.jobs": (spark_sum["jobs"], "count"),
        "spark.stages": (spark_sum["stages"], "count"),
        "spark.tasks": (spark_sum["tasks"], "count"),
        "spark.shuffle_write_mb": (spark_sum["shuffle_write_mb"], "MB"),
        "spark.spill_mb": (spark_sum["spill_mb"], "MB"),
        "spark.task_skew": (spark_sum["task_skew"], "ratio"),
    }
    spans_path = os.path.join(run_dir, "spans.json")
    tr.dump(spans_path)
    report = {
        "workload": workload, "seed": seed, "trace": 1,
        "traced_job_s": job.duration,
        "spans": spans_path, "errors": errors,
        "host": {"before": host_before, "after": host_after,
                 "steal_frac": S.steal_frac(host_before, host_after)},
    }
    return _result(out, 1, min(1, len(errors)), report)


def _event_files(events: str) -> list[str]:
    """The event-log files of the one application logged under
    ``events``: a single file, or the parts of a rolling log directory."""
    names = [n for n in os.listdir(events) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {events}: {names}")
    path = os.path.join(events, names[0])
    if not os.path.isdir(path):
        return [path]
    parts = sorted((n for n in os.listdir(path) if n.startswith("events_")),
                   key=lambda n: int(n.split("_")[1]))
    return [os.path.join(path, n) for n in parts]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    result = (run_traced(a.workload, a.seed) if a.trace
              else run_e2e(a.workload, a.seed, a.seconds))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
