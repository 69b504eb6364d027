"""CPU of warm ``predict`` and ``resume`` runs, split by thread class.

In one ``local[4]`` session on the perfbench seed corpus (1000 crawl
pages from ``perfbench/corpus.py``, the stub or mlp scorer, 4 ledger
buckets, ``--max-pairs-per-doc 400``) it runs a ledger run that stops on
the crash hook after 2 buckets, then N ``predict``s into fresh output
dirs, then (with ``--resume``) the ``resume`` that finishes the crashed
run. For each timed step it prints the classes Spark generated and
compiled (``compiles``: code-cache misses) and the CPU seconds (user +
system) of:

- ``driver``: this Python process;
- ``jit``: the JVM's C1/C2 compiler threads;
- ``gc``: the JVM's garbage-collector threads;
- ``tasks``: the JVM's executor task threads;
- ``jvm_other``: the rest of the JVM, including threads that exited
  during the step (a compiler thread that exits moves its CPU here, so
  ``jit`` is a lower bound);
- ``py_workers``: the JVM's child processes (``pyspark.daemon`` and its
  workers), with the children they reaped.

Every figure is read from ``/proc/<pid>/stat`` and
``/proc/<jvm>/task/<tid>/{comm,stat}`` before and after the step, for
this process tree only; ``total`` is their sum.

After the first predict it also prints the bytes of
that predict's output dir per sink (``triples``: the ledger's data
files and its JSON metadata; ``brat``) and per class: Parquet data,
Parquet footers (the file metadata, its length and the closing magic),
``.crc`` and ``_SUCCESS`` files, ledger JSON, and anything else. The
classes sum to the bytes perfbench's ``write_amp`` counts. Each sink also
carries its compressed bytes per column (``columns``), read from the
Parquet footers. Usage, from
the root of a checkout:

    python3 tools/cpu_split.py --predicts 30
    python3 tools/cpu_split.py --predicts 8 --resume --seed 1
    python3 tools/cpu_split.py --predicts 1

The output is one JSON line per step (and the first predict's byte
split), then one line with each class's median over the predicts (and
the resume's split).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
from collections import Counter

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import corpus as C  # noqa: E402
import stats as S  # noqa: E402

CORES = 4
N_BUCKETS = 4  # perfbench's ledger bucket count and pair cap
PAIR_CAP = 400
CLASSES = ("driver", "jit", "gc", "tasks", "jvm_other", "py_workers")
COLUMNS = (*CLASSES, "total")
# JVM thread names as /proc shows them (comm keeps 15 characters)
THREAD_CLASSES = (
    ("jit", ("C1 CompilerThre", "C2 CompilerThre")),
    ("gc", ("GC Thread", "G1 ")),
    ("tasks", ("Executor task l",)),
)


def _ticks(stat_path: str, reaped: bool = False) -> int:
    """utime + stime (+ cutime + cstime) of one /proc stat file; 0 when
    the process or thread has ended."""
    try:
        with open(stat_path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15 if reaped else 13])


def _thread_class(comm: str) -> str | None:
    for name, prefixes in THREAD_CLASSES:
        if comm.startswith(prefixes):
            return name
    return None


def _find_jvm() -> int:
    for pid in S.tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    raise RuntimeError("no java process under this one")


def snapshot(jvm: int) -> dict:
    """Cumulative ticks: the driver, the JVM process, each live JVM thread
    (tid -> (class, ticks)) and the JVM's child processes."""
    threads = {}
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        threads[tid] = (_thread_class(comm),
                        _ticks(f"/proc/{jvm}/task/{tid}/stat"))
    return {
        "driver": _ticks(f"/proc/{os.getpid()}/stat"),
        "jvm": _ticks(f"/proc/{jvm}/stat"),
        "threads": threads,
        "py_workers": sum(_ticks(f"/proc/{pid}/stat", reaped=True)
                          for pid in S.tree_pids(jvm) if pid != jvm),
    }


def split(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds per class between two snapshots. A thread's share is
    its ticks since ``before`` (all of them if it is new); the JVM's total
    minus the classified threads is ``jvm_other``."""
    out = dict.fromkeys(CLASSES, 0)
    for tid, (cls, ticks) in after["threads"].items():
        if cls is not None:
            out[cls] += ticks - before["threads"].get(tid, (cls, 0))[1]
    out["jvm_other"] = (after["jvm"] - before["jvm"]
                        - out["jit"] - out["gc"] - out["tasks"])
    for k in ("driver", "py_workers"):
        out[k] = after[k] - before[k]
    out["total"] = sum(out.values())
    tick = os.sysconf("SC_CLK_TCK")
    return {k: round(v / tick, 3) for k, v in out.items()}


BYTE_CLASSES = ("parquet_data", "parquet_footers", "crc_success",
                "ledger_json", "other")


def _footer_bytes(path: str) -> int:
    """The footer of a Parquet file: its metadata, the 4-byte metadata
    length and the closing ``PAR1`` magic."""
    with open(path, "rb") as f:
        f.seek(-8, os.SEEK_END)
        return int.from_bytes(f.read(4), "little") + 8


def column_bytes(path: str) -> Counter:
    """Compressed bytes per column of a Parquet file, page headers
    included, read from its footer. The file's other data bytes are the
    leading magic and what the writer adds besides the column chunks
    (page indexes; pyarrow also copies each chunk's metadata)."""
    md = pq.ParquetFile(path).metadata
    out: Counter = Counter()
    for g in range(md.num_row_groups):
        for c in range(md.num_columns):
            col = md.row_group(g).column(c)
            out[col.path_in_schema] += col.total_compressed_size
    return out


def byte_split(out_dir: str) -> dict:
    """Bytes under a predict's ``out_dir``, per sink and class, with each
    sink's Parquet file count and compressed bytes per column
    (``columns``); ``total`` is every file's bytes."""
    sinks = {s: {**dict.fromkeys((*BYTE_CLASSES, "parquet_files"), 0),
                 "columns": Counter()}
             for s in ("triples", "brat")}
    for base, _, files in os.walk(out_dir):
        top = os.path.relpath(base, out_dir).split(os.sep)[0]
        row = sinks["brat" if top == "brat" else "triples"]
        for name in files:
            path = os.path.join(base, name)
            size = os.path.getsize(path)
            if name.endswith(".parquet"):
                footer = _footer_bytes(path)
                row["parquet_footers"] += footer
                row["parquet_data"] += size - footer
                row["parquet_files"] += 1
                row["columns"].update(column_bytes(path))
            elif name.endswith(".crc") or name == "_SUCCESS":
                row["crc_success"] += size
            elif name.endswith(".json"):
                row["ledger_json"] += size
            else:
                row["other"] += size
    total = sum(row[k] for row in sinks.values() for k in BYTE_CLASSES)
    return {**sinks, "total": total}


def _session():
    from clinicaltransformerrelationextraction_spark.session import get_spark

    spark = get_spark(app_name="cpu_split", master=f"local[{CORES}]")
    (spark.range(64, numPartitions=CORES)
     .mapInPandas(lambda it: it, "id long")
     .write.format("noop").mode("overwrite").save())
    return spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--predicts", type=int, default=30,
                    help="warm predicts to time (default 30)")
    ap.add_argument("--resume", action="store_true",
                    help="also time the resume of the crashed run")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--scorer", choices=("stub", "mlp"), default="stub")
    ap.add_argument("--work", default=os.path.join(ROOT, ".cpu_split"),
                    help="corpus cache and output dirs")
    a = ap.parse_args(argv)
    if a.predicts < 0:
        ap.error(f"--predicts must be >= 0, got {a.predicts}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(a.work, d), exist_ok=True)
    os.environ.setdefault("CTRE_DRIVER_MEM", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(a.work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(a.work, 'tmp')}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    from clinicaltransformerrelationextraction_spark.cli import main as cli
    from clinicaltransformerrelationextraction_spark.config import (
        PipelineConfig,
    )
    from clinicaltransformerrelationextraction_spark.plans.ledger import (
        LedgerRun,
    )

    params = C.CorpusParams()
    docs = C.cached(
        os.path.join(a.work, "corpus"),
        f"crawl-{a.seed}-{C.params_key(params)}",
        lambda tmp: C.write_crawl(C.make_crawl(a.seed, params), tmp,
                                  params.n_files))
    runs = os.path.join(a.work, "runs")
    shutil.rmtree(runs, ignore_errors=True)

    def args(cmd: str, out: str) -> list[str]:
        return [cmd, "--input", docs, "--output", out, "--scorer", a.scorer,
                "--max-pairs-per-doc", str(PAIR_CAP),
                "--n-buckets", str(N_BUCKETS)]

    spark = _session()
    try:
        jvm = _find_jvm()
        compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                    .METRIC_COMPILATION_TIME())
        resumed = os.path.join(runs, "resumed")
        try:
            LedgerRun(out_dir=resumed, n_buckets=N_BUCKETS).run(
                spark.read.parquet(docs),
                PipelineConfig(scorer=a.scorer, max_pairs_per_doc=PAIR_CAP),
                fail_after=N_BUCKETS // 2)
        except RuntimeError as ex:
            if "simulated failure" not in str(ex):
                raise
        steps = [(f"predict{i}", args("predict", os.path.join(runs, f"p{i}")))
                 for i in range(a.predicts)]
        if a.resume:
            steps.append(("resume", args("resume", resumed)))
        rows = []
        for name, argv_ in steps:
            n = compiles.getCount()
            before, t = snapshot(jvm), time.perf_counter()
            with contextlib.redirect_stdout(sys.stderr):  # the CLI's line
                cli(argv_, spark=spark)
            row = {"step": name, "wall_s": round(time.perf_counter() - t, 3),
                   **split(before, snapshot(jvm)),
                   "compiles": compiles.getCount() - n}
            rows.append(row)
            print(json.dumps(row), flush=True)
            if name == "predict0":
                split_bytes = byte_split(os.path.join(runs, "p0"))
                print(json.dumps({"step": name, "bytes": split_bytes}),
                      flush=True)
        predicts = [r for r in rows if r["step"].startswith("predict")]
        summary = {"seed": a.seed, "scorer": a.scorer,
                   "predicts": len(predicts)}
        if predicts:
            summary["predict_median"] = {
                k: round(statistics.median(r[k] for r in predicts), 3)
                for k in COLUMNS}
        if a.resume:
            summary["resume"] = {k: rows[-1][k] for k in COLUMNS}
        print(json.dumps(summary), flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
