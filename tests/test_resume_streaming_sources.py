"""Resumable ledger runs, streaming pipeline, TSV/brat source round-trips,
and the truncation property."""

from __future__ import annotations

import json
import os
import re
from collections import Counter

import pytest

from pyspark.sql import functions as F

from clinicaltransformerrelationextraction_spark.config import PipelineConfig
from clinicaltransformerrelationextraction_spark.operators.scoring import (
    numbered_schema,
)
from clinicaltransformerrelationextraction_spark.plans.ledger import LedgerRun
from clinicaltransformerrelationextraction_spark.plans.pipeline import (
    load_documents,
    run_pipeline,
)
from tests.conftest import SF_SMOKE


def _data_dir(run, key, version):
    """Bucket ``key``'s data directory as the run of ``version`` wrote it."""
    return f"{run.triples_dir}/data/v{version}/b={key}"


def _assert_ledger_counts(spark, docs, run, ledger, n):
    """Every row's n_docs and n_triples equal counts taken independently
    of the ledger: the bucket's docs, and the rows of its data dir."""
    assert sorted(map(int, ledger)) == list(range(n))
    for key, row in ledger.items():
        want_docs = docs.filter(
            F.pmod(F.hash("doc_id"), F.lit(n)) == int(key)
        ).count()
        want_trip = spark.read.schema(numbered_schema(row["id_type"])) \
            .parquet(_data_dir(run, key, row["version"])).count()
        assert (row["n_docs"], row["n_triples"]) == (want_docs, want_trip), key
        assert row["n_buckets"] == n


def test_ledger_resume_after_crash(spark, tmp_path):
    docs = load_documents(spark, SF_SMOKE)
    run = LedgerRun(out_dir=str(tmp_path / "run1"), n_buckets=4)

    with pytest.raises(RuntimeError, match="simulated failure"):
        run.run(docs, fail_after=2)

    ledger = json.load(open(run.ledger_path))
    assert sum(1 for v in ledger.values() if v["status"] == "done") == 2

    # resume completes only the remaining buckets and the result equals a
    # single-shot run
    ledger = run.resume(docs)
    assert len(ledger) == 4
    assert all(v["status"] == "done" for v in ledger.values())
    resumed = run.triples(spark)

    expected = run_pipeline(docs, PipelineConfig()).triples
    assert resumed.count() == expected.count()
    key = ["doc_id", "rel_id", "subj_id", "obj_id", "pred"]
    assert (
        resumed.select(*key).exceptAll(expected.select(*key)).count() == 0
    )
    # per-partition lineage metrics, exact across the crash and the resume
    _assert_ledger_counts(spark, docs, run, ledger, 4)
    assert all(v["wall_sec"] >= 0 for v in ledger.values())

    # idempotence: re-running a completed ledger is a no-op
    before = os.path.getmtime(run.ledger_path)
    run.resume(docs)
    assert os.path.getmtime(run.ledger_path) == before


@pytest.mark.parametrize(
    "n, salt, n_docs, scheme",
    [(4, False, None, ""), (4, True, None, ""), (16, False, 5, ""),
     (4, False, None, "file://")],
    ids=["plain", "salt", "empty_buckets", "file_scheme"],
)
def test_ledger_counts_equal_independent_counts(
    spark, tmp_path, n, salt, n_docs, scheme
):
    """The ledger's n_docs / n_triples are Observations on the bucket's
    write; they must be exact (triples() drops n_triples == 0 buckets),
    including below the salted exchange and for empty buckets."""
    docs = load_documents(spark, SF_SMOKE)
    if n_docs is not None:
        first = docs.orderBy("doc_id").limit(n_docs).collect()
        docs = docs.filter(F.col("doc_id").isin([r.doc_id for r in first]))
    run = LedgerRun(out_dir=scheme + str(tmp_path / "c"), n_buckets=n,
                    salt=salt)
    ledger = run.run(docs)
    _assert_ledger_counts(spark, docs, run, ledger, n)
    if n_docs is not None:
        assert sum(v["n_docs"] for v in ledger.values()) == n_docs
        assert any(
            (v["n_docs"], v["n_triples"]) == (0, 0) for v in ledger.values()
        )
    assert run.triples(spark).count() == sum(
        v["n_triples"] for v in ledger.values()
    )


@pytest.mark.parametrize("salt", [False, True], ids=["plain", "salt"])
@pytest.mark.parametrize(
    "n, n_docs", [(1, None), (4, None), (16, None), (16, 5)],
    ids=["n1", "n4", "n16", "n16_empty_buckets"],
)
def test_ledger_triples_invariant_to_bucket_count(
    spark, tmp_path, n, n_docs, salt
):
    """One partitioned write of every pending bucket must hold exactly the
    triples of one run_pipeline pass, on every column, whatever the bucket
    count, with each triple in its doc's bucket."""
    docs = load_documents(spark, SF_SMOKE)
    if n_docs is not None:
        first = docs.orderBy("doc_id").limit(n_docs).collect()
        docs = docs.filter(F.col("doc_id").isin([r.doc_id for r in first]))
    run = LedgerRun(out_dir=str(tmp_path / "inv"), n_buckets=n, salt=salt)
    ledger = run.run(docs)
    _assert_ledger_counts(spark, docs, run, ledger, n)
    got = run.triples(spark)
    assert got.filter(
        F.col("bucket") != F.pmod(F.hash("doc_id"), F.lit(n))
    ).count() == 0
    want = run_pipeline(docs, PipelineConfig()).triples
    assert Counter(map(tuple, got.select(*want.columns).collect())) == \
        Counter(map(tuple, want.collect()))


def _under_data(paths):
    return sorted(p.rpartition("/triples/data/")[2] for p in paths)


def _files(out_dir):
    """Every file under ``out_dir``, by relative path, with its bytes."""
    got = {}
    for base, _, names in os.walk(out_dir):
        for name in names:
            path = os.path.join(base, name)
            with open(path, "rb") as f:
                got[os.path.relpath(path, out_dir)] = f.read()
    return got


def _assert_refused(spark, out_dir, calls, match):
    """Each of ``calls`` raises a ValueError matching ``match`` before any
    Spark job, and every file under ``out_dir`` stays, byte-identical."""
    before = _files(out_dir)
    assert before
    sc = spark.sparkContext
    for i, call in enumerate(calls):
        group = f"refused-{out_dir}-{i}"
        sc.setJobGroup(group, group)
        try:
            with pytest.raises(ValueError, match=match):
                call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert not sc.statusTracker().getJobIdsForGroup(group), i
    assert _files(out_dir) == before


def test_ledger_expire_collects_by_bucket_directory(spark, tmp_path):
    """expire_snapshots deletes a run directory's bucket directories that
    nothing live references, and the whole run directory only when none
    of its buckets is live."""
    docs = load_documents(spark, SF_SMOKE)
    run = LedgerRun(out_dir=str(tmp_path / "gc"), n_buckets=4)
    with pytest.raises(RuntimeError, match="simulated failure"):
        run.run(docs, fail_after=2)
    ledger = run.resume(docs)
    assert all(v["n_triples"] > 0 for v in ledger.values())
    total = run.triples(spark).count()
    # the crash's uncommitted buckets 2 and 3 are orphans inside v0
    assert _under_data(run.expire_snapshots(spark)) == ["v0/b=2", "v0/b=3"]
    assert run.triples(spark).count() == total
    for key in ("2", "3"):
        ledger[key]["status"] = "redo"
    run._write_ledger(ledger)
    run.resume(docs)
    assert _under_data(run.expire_snapshots(spark, keep_last=1)) == ["v1"]
    assert run.triples(spark).count() == total


def test_ledger_run_version_above_snapshot_pins(spark, tmp_path):
    """A run's directory version must clear every version a retained
    snapshot pins, not only the ledger's: the overwrite of the run
    directory must never replace data that time travel still reads."""
    docs = load_documents(spark, SF_SMOKE).filter(F.col("doc_id") < 80)
    run = LedgerRun(out_dir=str(tmp_path / "pin"), n_buckets=2)
    run.run(docs)
    ledger = run._read_ledger()
    ledger["0"]["status"] = "redo"
    run._write_ledger(ledger)
    run.resume(docs.limit(30))                 # snapshot 2 pins v1/b=0
    pinned = run.triples(spark, snapshot_id=2).count()
    ledger = run._read_ledger()
    ledger.pop("0")                            # the ledger forgets v1
    run._write_ledger(ledger)
    assert run.resume(docs)["0"]["version"] == 2
    assert run.triples(spark, snapshot_id=2).count() == pinned


def test_ledger_adds_no_spark_job(spark, tmp_path):
    """A ledger run is exactly the Spark jobs of ONE write of the triples:
    every pending bucket goes into that write and the per-bucket counts
    ride on it, with no job of their own. A resume of a crashed run writes
    once more. Uncached parquet input (a cached input adds a table-cache
    job)."""
    docs = load_documents(spark, SF_SMOKE)
    sc = spark.sparkContext
    n = 4

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    one = jobs(
        "ledger-one-write",
        lambda: run_pipeline(docs, PipelineConfig()).triples.write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "one")),
    )
    assert one >= 1
    run = LedgerRun(out_dir=str(tmp_path / "jobs"), n_buckets=n)
    assert jobs("ledger-run", lambda: run.run(docs)) == one
    crashed = LedgerRun(out_dir=str(tmp_path / "crash"), n_buckets=n)
    with pytest.raises(RuntimeError, match="simulated failure"):
        crashed.run(docs, fail_after=2)
    assert jobs("ledger-resume", lambda: crashed.resume(docs)) == one


def test_ledger_triples_reads_the_recorded_id_type(spark, tmp_path):
    """Ledger rows and snapshots record the kernel's doc_id type, so
    ``triples()`` starts no Spark job before its action, for bigint and
    string ids, current and time-travelled. A ledger whose rows and
    snapshots lack the type, an earlier format, is refused before any
    Spark job."""
    sc = spark.sparkContext
    base = load_documents(spark, SF_SMOKE).filter(F.col("doc_id") < 80)

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for id_type, docs in [
            ("bigint", base),
            ("string", base.withColumn(
                "doc_id", F.concat(F.lit("d"), F.col("doc_id"))))]:
        run = LedgerRun(out_dir=str(tmp_path / id_type), n_buckets=2)
        run.run(docs)
        ledger = run._read_ledger()
        assert {v["id_type"] for v in ledger.values()} == {id_type}
        assert [s["id_type"] for s in run.snapshots()] == [id_type]
        reads = {}
        for name, read in [("current", lambda: run.triples(spark)),
                           ("snapshot", lambda: run.triples(spark, 1))]:
            assert jobs(f"triples-{id_type}-{name}",
                        lambda: reads.setdefault(name, read())) == 0
        want = {k: (df.dtypes, Counter(map(tuple, df.collect())))
                for k, df in reads.items()}
        assert want["current"][0][0] == ("doc_id", id_type)
        assert want["current"][1] and want["current"] == want["snapshot"]

        for v in ledger.values():
            del v["id_type"]
        run._write_ledger(ledger)
        snaps, high = run._read_log()
        for snap in snaps:
            del snap["id_type"]
        run._write_log(snaps, high)
        _assert_refused(
            spark, run.out_dir,
            [lambda: run.triples(spark), lambda: run.triples(spark, 1)],
            r"missing fields \['id_type'\].*new out_dir")


def test_ledger_code_is_independent_of_pending_set(
        spark, tmp_path, monkeypatch, capsys):
    """A resume runs the code a full run compiled: the generated Java of
    the ledger's write for pending buckets {0, 1, 2, 3} and {2, 3} is the
    same, and the resume of a crashed run compiles no class. The same
    holds for a run that also writes brat from its persisted pass."""
    from pyspark.sql import DataFrameWriter

    written = []
    parquet = DataFrameWriter.parquet

    def capture(self, *args, **kwargs):
        written.append(self._df)
        return parquet(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    docs = load_documents(spark, SF_SMOKE)
    run = LedgerRun(out_dir=str(tmp_path / "cg"), n_buckets=4)
    with pytest.raises(RuntimeError, match="simulated failure"):
        run.run(docs, fail_after=2)
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    before = compiles.getCount()
    assert sorted(run.resume(docs)) == ["0", "1", "2", "3"]
    assert compiles.getCount() == before

    def code(df):
        """The generated Java without the plan description lines, which
        name the literal pending mask. explain shows no codegen subtree
        of a not yet executed adaptive plan."""
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            capsys.readouterr()
            df.explain("codegen")
            out = capsys.readouterr().out
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        return [line for line in out.splitlines() if not re.match(
            r"\s*(\*\(\d+\) |\+- |: |== Subtree )", line)]

    full, resumed = map(code, written)
    assert sum("/* 001 */" in line for line in full) >= 1, \
        "no generated code: the comparison is vacuous"
    assert full == resumed

    # brat mode (what ``predict`` runs): the triples come from the
    # persisted pass through the same mask, so a predict into a fresh
    # out_dir and one into a crashed out_dir run the same ledger-write
    # code, taken while the pass is cached, and the second compiles none
    ledger_code = []

    def capture_code(self, path, *args, **kwargs):
        if "/triples/data/" in path:
            ledger_code.append(code(self._df))
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture_code)
    fresh = str(tmp_path / "brat-fresh")
    LedgerRun(out_dir=fresh, n_buckets=4).run(docs, brat=fresh + "/brat")
    crashed = LedgerRun(out_dir=str(tmp_path / "brat-crash"), n_buckets=4)
    with pytest.raises(RuntimeError, match="simulated failure"):
        crashed.run(docs, fail_after=2)
    before = compiles.getCount()
    crashed.run(docs, brat=crashed.out_dir + "/brat")
    assert compiles.getCount() == before
    fresh_code, _, crashed_code = ledger_code
    assert sum("/* 001 */" in line for line in fresh_code) >= 1
    assert fresh_code == crashed_code


def test_ledger_fail_after_zero_commits_no_bucket(spark, tmp_path):
    """``fail_after=0`` stops after the write and before any row commit;
    the resume then equals a one-shot run. A negative count is refused
    and writes nothing."""
    docs = load_documents(spark, SF_SMOKE).filter(F.col("doc_id") < 120)
    run = LedgerRun(out_dir=str(tmp_path / "f0"), n_buckets=4)
    with pytest.raises(ValueError, match="fail_after must be >= 0, got -1"):
        run.run(docs, fail_after=-1)
    assert not os.path.exists(run.ledger_path)
    with pytest.raises(RuntimeError, match="simulated failure after 0"):
        run.run(docs, fail_after=0)
    assert not os.path.exists(run.ledger_path)
    assert not run.snapshots()
    ledger = run.resume(docs)
    _assert_ledger_counts(spark, docs, run, ledger, 4)
    one = LedgerRun(out_dir=str(tmp_path / "one"), n_buckets=4)
    one.run(docs)
    assert Counter(map(tuple, run.triples(spark).collect())) == \
        Counter(map(tuple, one.triples(spark).collect()))


def test_ledger_crash_after_last_commit_resumes_to_one_snapshot(spark,
                                                                tmp_path):
    """A crash after the last row commit and before the snapshot append
    leaves every row done and no snapshot. The resume records that run's
    snapshot, with no Spark job: its manifest is the ledger's, it time
    travels to the one-shot run's rows, and a second resume adds none.
    Nor does a resume after every snapshot expired, and no later snapshot
    takes an expired id."""
    docs = load_documents(spark, SF_SMOKE).filter(F.col("doc_id") < 120)
    run = LedgerRun(out_dir=str(tmp_path / "last"), n_buckets=2)
    with pytest.raises(RuntimeError, match="simulated failure after 2"):
        run.run(docs, fail_after=2)
    assert not run.snapshots()
    sc = spark.sparkContext
    sc.setJobGroup("ledger-late-snapshot", "ledger-late-snapshot")
    try:
        ledger = run.resume(docs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("ledger-late-snapshot")
    _assert_ledger_counts(spark, docs, run, ledger, 2)
    snaps = run.snapshots()
    assert len(snaps) == 1
    assert snaps[0]["manifest"] == {
        k: {f: row[f] for f in ("version", "n_triples")}
        for k, row in ledger.items()}
    one = LedgerRun(out_dir=str(tmp_path / "one"), n_buckets=2)
    one.run(docs)
    [want] = one.snapshots()
    lineage = ("ts", "manifest")
    assert {k: v for k, v in snaps[0].items() if k not in lineage} == \
        {k: v for k, v in want.items() if k not in lineage}
    assert Counter(map(tuple, run.triples(spark, snapshot_id=1).collect())) \
        == Counter(map(tuple, one.triples(spark).collect()))
    run.resume(docs)
    assert run.snapshots() == snaps
    run.expire_snapshots(spark, keep_last=0)
    run.resume(docs)
    assert not run.snapshots()
    with pytest.raises(ValueError, match="expired"):
        run.triples(spark, snapshot_id=1)
    ledger["0"]["status"] = "redo"
    run._write_ledger(ledger)
    run.resume(docs)
    [snap] = run.snapshots()
    assert (snap["snapshot_id"], snap["parent_id"],
            snap["buckets_written"]) == (2, 1, 1)
    with pytest.raises(ValueError, match="expired"):
        run.triples(spark, snapshot_id=1)
    assert Counter(map(tuple, run.triples(spark, snapshot_id=2).collect())) \
        == Counter(map(tuple, one.triples(spark).collect()))


def test_ledger_rejects_another_bucket_count(spark, tmp_path):
    """Re-bucketing under another n_buckets would skip or redo rows by key
    alone and duplicate triples: a 4-bucket crash resumed with the CLI's
    default 8 must raise and leave the ledger untouched."""
    from clinicaltransformerrelationextraction_spark.cli import main

    docs = load_documents(spark, SF_SMOKE)
    out = str(tmp_path / "nb")
    run = LedgerRun(out_dir=out, n_buckets=4)
    with pytest.raises(RuntimeError, match="simulated failure"):
        run.run(docs, fail_after=2)
    with open(run.ledger_path) as f:
        before = f.read()
    with pytest.raises(ValueError, match="n_buckets=4 .*n_buckets=8"):
        main(["resume", "--input", f"{SF_SMOKE}/documents.parquet",
              "--output", out], spark=spark)
    with open(run.ledger_path) as f:
        assert f.read() == before

    # rows without the field are an earlier format: refused, not checked
    # by key
    legacy = {k: {f: v for f, v in row.items() if f != "n_buckets"}
              for k, row in json.loads(before).items()}
    run._write_ledger(legacy)
    _assert_refused(
        spark, out, [lambda: LedgerRun(out_dir=out, n_buckets=1).run(docs)],
        r"bucket \d is missing fields \['n_buckets'\]")


def test_ledger_pins_the_scoring_config(spark, tmp_path):
    """A stub crash resumed under ``--scorer mlp`` would commit mlp
    buckets next to stub ones: it must raise naming both config digests,
    before any Spark job, and leave the ledger byte-identical. Options
    that change no triple (the scorer batch size, ``--salt``) resume
    fine, and rows without the config field are refused."""
    from clinicaltransformerrelationextraction_spark.cli import main
    from clinicaltransformerrelationextraction_spark.plans.ledger import (
        config_digest,
    )

    docs = load_documents(spark, SF_SMOKE)
    out = str(tmp_path / "cfg")
    run = LedgerRun(out_dir=out, n_buckets=4)
    with pytest.raises(RuntimeError, match="simulated failure"):
        run.run(docs, PipelineConfig(), fail_after=2)
    with open(run.ledger_path) as f:
        before = f.read()
    stub = config_digest(PipelineConfig())
    mlp = config_digest(PipelineConfig(scorer="mlp"))
    assert stub != mlp
    assert {row["config"] for row in json.loads(before).values()} == {stub}
    argv = ["resume", "--input", f"{SF_SMOKE}/documents.parquet",
            "--output", out, "--n-buckets", "4"]
    with pytest.raises(ValueError, match=f"{stub}.*{mlp}"):
        main(argv + ["--scorer", "mlp"], spark=spark)
    sc = spark.sparkContext
    sc.setJobGroup("ledger-config-pin", "ledger-config-pin")
    try:
        with pytest.raises(ValueError, match=f"{stub}.*{mlp}"):
            run.resume(docs, PipelineConfig(scorer="mlp"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("ledger-config-pin")
    with open(run.ledger_path) as f:
        assert f.read() == before

    ledger = main(argv + ["--eval-batch-size", "7", "--salt"], spark=spark)
    assert ledger["buckets_done"] == 4
    assert {row["config"] for row in run._read_ledger().values()} == {stub}
    assert run.snapshots()[-1]["config"] == stub

    legacy = {k: {f: v for f, v in row.items() if f != "config"}
              for k, row in run._read_ledger().items()}
    run._write_ledger(legacy)
    _assert_refused(
        spark, out, [lambda: run.run(docs, PipelineConfig(scorer="mlp"))],
        r"bucket \d is missing fields \['config'\]")


def _two_snapshots(spark, out_dir):
    """A 2-bucket ledger run, then a re-run of bucket 0: snapshots 1 and
    2, both with the one-shot run's rows. Returns the run and its docs."""
    docs = load_documents(spark, SF_SMOKE).filter(F.col("doc_id") < 80)
    run = LedgerRun(out_dir=out_dir, n_buckets=2)
    run.run(docs)
    ledger = run._read_ledger()
    ledger["0"]["status"] = "redo"
    run._write_ledger(ledger)
    run.resume(docs)
    assert [s["snapshot_id"] for s in run.snapshots()] == [1, 2]
    return run, docs


@pytest.fixture(scope="module")
def two_snapshots_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ledger") / "two")
    _two_snapshots(spark, out)
    return out


def _rows_with_path(ledger, log, data):
    """What every row and manifest entry stored before data directories
    were derived, also in the layout whose files stored the id strings
    and the bucket: the absolute data path."""
    for key, row in ledger.items():
        row["path"] = f"{data}/v{row['version']}/b={key}"
    for snap in log["snapshots"]:
        for key, m in snap["manifest"].items():
            m["path"] = f"{data}/v{m['version']}/b={key}"
    return ledger, log


def _drop(rows=(), snaps=(), entries=()):
    """An edit that deletes fields from every row, snapshot and manifest
    entry: what rows held before each field was added."""
    def edit(ledger, log, data):
        for row in ledger.values():
            for f in rows:
                del row[f]
        for snap in log["snapshots"]:
            for f in snaps:
                del snap[f]
            for m in snap["manifest"].values():
                for f in entries:
                    del m[f]
        return ledger, log
    return edit


def _pre_manifest(ledger, log, data):
    """Rows that held only the status and the per-bucket counts."""
    keep = ("status", "n_docs", "n_triples", "wall_sec")
    return {k: {f: row[f] for f in keep} for k, row in ledger.items()}, log


def _bucket_version_dirs(ledger, log, data):
    """One ``b<bucket>_v<version>`` directory per bucket commit, directly
    under ``triples/data/``, that rows and manifest entries name."""
    for v in os.listdir(data):
        for b in os.listdir(f"{data}/{v}"):
            if b.startswith("b="):
                os.rename(f"{data}/{v}/{b}",
                          f"{data}/b{b[2:]}_{v}")
    for key, row in ledger.items():
        row["path"] = f"{data}/b{key}_v{row['version']}"
    for snap in log["snapshots"]:
        for key, m in snap["manifest"].items():
            m["path"] = f"{data}/b{key}_v{m['version']}"
    return ledger, log


EARLIER_FORMATS = {
    "stored_paths": (_rows_with_path, r"extra fields \['path'\]"),
    "no_n_buckets": (_drop(rows=["n_buckets"]),
                     r"bucket \d is missing fields \['n_buckets'\]"),
    "no_config": (_drop(rows=["config"]),
                  r"bucket \d is missing fields \['config'\]"),
    "no_id_type": (_drop(rows=["id_type"], snaps=["id_type"]),
                   r"missing fields \['id_type'\]"),
    "pre_manifest": (_pre_manifest, r"bucket \d is missing fields "
                     r"\['config', 'id_type', 'n_buckets', 'version'\]"),
    "bare_list_log": (lambda ledger, log, data: (ledger, log["snapshots"]),
                      r"the snapshot log is a JSON list, not an object"),
    "no_version": (_drop(rows=["version"], entries=["version"]),
                   r"missing fields \['version'\]"),
    "bucket_version_dirs": (_bucket_version_dirs,
                            r"extra fields \['path'\]"),
}


@pytest.mark.parametrize("shape", list(EARLIER_FORMATS))
def test_ledger_rejects_earlier_formats(spark, tmp_path, two_snapshots_dir,
                                        shape):
    """An out_dir whose ledger or snapshot log has another shape than the
    one format is refused by every entry point (run, resume, both reads,
    expiry, ``cli eval --system``) with a ValueError naming the file and
    the fields, before any Spark job, write or delete."""
    import shutil

    from clinicaltransformerrelationextraction_spark.cli import main

    edit, fields = EARLIER_FORMATS[shape]
    out = str(tmp_path / shape)
    shutil.copytree(two_snapshots_dir, out)
    run = LedgerRun(out_dir=out, n_buckets=2)
    with open(run.ledger_path) as f:
        ledger = json.load(f)
    with open(run.snapshots_path) as f:
        log = json.load(f)
    ledger, log = edit(ledger, log, f"{out}/triples/data")
    for path, obj in ((run.ledger_path, ledger), (run.snapshots_path, log)):
        with open(path, "w") as f:
            json.dump(obj, f)
    docs = load_documents(spark, SF_SMOKE).filter(F.col("doc_id") < 80)
    _assert_refused(spark, out, [
        lambda: run.run(docs),
        lambda: run.resume(docs),
        lambda: run.triples(spark),
        lambda: run.triples(spark, snapshot_id=1),
        lambda: run.expire_snapshots(spark, keep_last=0),
        lambda: main(["eval", "--system", out, "--gold", out], spark=spark),
    ], rf"_(ledger|snapshots)\.json: .*{fields}.*earlier ledger format"
       r".*write to a new out_dir")


def test_ledger_out_dir_is_relocatable(spark, tmp_path):
    """Rows and snapshots store no path: an out_dir copied elsewhere, with
    its original removed, reads the one-shot rows current and
    time-travelled, resumes with no Spark job, and expires only under the
    copy."""
    import shutil

    orig, copy = str(tmp_path / "orig"), str(tmp_path / "copy")
    _, docs = _two_snapshots(spark, orig)
    one = LedgerRun(out_dir=str(tmp_path / "one"), n_buckets=2)
    one.run(docs)
    want = Counter(map(tuple, one.triples(spark).collect()))
    assert want
    shutil.copytree(orig, copy)
    shutil.rmtree(orig)
    run = LedgerRun(out_dir=copy, n_buckets=2)
    for snapshot_id in (None, 1, 2):
        got = run.triples(spark, snapshot_id=snapshot_id).collect()
        assert Counter(map(tuple, got)) == want, snapshot_id
    sc = spark.sparkContext
    sc.setJobGroup("ledger-relocated-resume", "ledger-relocated-resume")
    try:
        run.resume(docs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("ledger-relocated-resume")
    deleted = run.expire_snapshots(spark, keep_last=1)
    assert _under_data(deleted) == ["v0/b=0"]
    assert all(p.startswith(("file:" + copy, copy)) for p in deleted), deleted
    assert not os.path.exists(orig)
    assert Counter(map(tuple, run.triples(spark).collect())) == want


def test_ledger_rejects_nonpositive_bucket_count(spark, tmp_path):
    """``resume``/``predict --n-buckets 0`` on a fresh out_dir must fail
    naming the argument, not run ``range(0)`` buckets and report zero
    triples, nor silently write unbucketed triples."""
    from clinicaltransformerrelationextraction_spark.cli import main

    out = str(tmp_path / "nb0")
    for cmd in ("resume", "predict"):
        with pytest.raises(ValueError, match="n_buckets must be >= 1, got 0"):
            main([cmd, "--input", f"{SF_SMOKE}/documents.parquet",
                  "--output", out, "--n-buckets", "0"], spark=spark)
        assert not os.path.exists(out), cmd


def test_ledger_expire_rejects_negative_keep_last(spark, tmp_path):
    """``keep_last=-1`` would slice ``[1:]`` and silently keep every
    snapshot but the oldest: it must fail and delete nothing."""
    docs = load_documents(spark, SF_SMOKE).filter(F.col("doc_id") < 40)
    run = LedgerRun(out_dir=str(tmp_path / "exp"), n_buckets=2)
    run.run(docs)
    before = run.snapshots()
    with pytest.raises(ValueError, match="keep_last must be >= 0, got -1"):
        run.expire_snapshots(spark, keep_last=-1)
    assert run.snapshots() == before


def test_ledger_expire_crash_before_log_write_keeps_snapshots_readable(
        spark, tmp_path, monkeypatch):
    """``expire_snapshots`` commits the truncated log before it deletes
    anything: a crash at the log write leaves every logged snapshot
    readable (deleting first left snapshot 1 in the log with its files
    gone, so reading it raised PATH_NOT_FOUND). The next expiry collects
    what the crash left."""
    docs = load_documents(spark, SF_SMOKE).filter(F.col("doc_id") < 120)
    run = LedgerRun(out_dir=str(tmp_path / "exp_crash"), n_buckets=2)
    run.run(docs)
    ledger = run._read_ledger()
    ledger["0"]["status"] = "redo"
    run._write_ledger(ledger)
    run.resume(docs)
    rows = {s["snapshot_id"]: Counter(map(tuple, run.triples(
        spark, snapshot_id=s["snapshot_id"]).collect()))
        for s in run.snapshots()}
    assert sorted(rows) == [1, 2] and all(rows.values())
    current = Counter(map(tuple, run.triples(spark).collect()))

    def crash(*args, **kwargs):
        raise RuntimeError("simulated crash at the log write")

    monkeypatch.setattr(run, "_write_log", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run.expire_snapshots(spark, keep_last=1)
    monkeypatch.undo()
    assert [s["snapshot_id"] for s in run.snapshots()] == [1, 2]
    for snapshot_id, want in rows.items():
        got = run.triples(spark, snapshot_id=snapshot_id).collect()
        assert Counter(map(tuple, got)) == want, snapshot_id

    assert _under_data(run.expire_snapshots(spark, keep_last=1)) == \
        ["v0/b=0"]
    with pytest.raises(ValueError, match="expired"):
        run.triples(spark, snapshot_id=1)
    assert Counter(map(tuple, run.triples(
        spark, snapshot_id=2).collect())) == rows[2]
    assert Counter(map(tuple, run.triples(spark).collect())) == current


def test_streaming_availablenow_incremental(spark, tmp_path):
    from clinicaltransformerrelationextraction_spark.streaming import (
        stream_pipeline,
    )

    docs = load_documents(spark, SF_SMOKE)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    first = docs.filter(F.col("doc_id") < 100)
    first.write.mode("append").parquet(in_dir)

    stream_pipeline.stream_triples(spark, in_dir, out_dir, ckpt)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 > 0

    # add more files; checkpoint must process ONLY the new ones
    docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150)).write.mode(
        "append"
    ).parquet(in_dir)
    stream_pipeline.stream_triples(spark, in_dir, out_dir, ckpt)
    n2 = spark.read.parquet(out_dir).count()
    assert n2 > n1

    batch = run_pipeline(
        spark.read.parquet(in_dir), PipelineConfig()
    ).triples.count()
    assert n2 == batch

    # exactly-once across an idempotent re-run with no new files
    stream_pipeline.stream_triples(spark, in_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == n2


def test_streaming_watermark_window_agg(spark, tmp_path):
    import shutil

    from clinicaltransformerrelationextraction_spark.streaming.stream_pipeline import (
        stream_event_counts,
    )

    in_dir = tmp_path / "events_in"
    in_dir.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", in_dir / "part-0.parquet")
    stream_event_counts(
        spark, str(in_dir), str(tmp_path / "ck"), str(tmp_path / "ev")
    )
    ev = spark.read.parquet(str(tmp_path / "ev"))
    assert ev.columns == ["win_start", "event_type", "n"]
    # append mode emits only windows closed by the watermark; every emitted
    # row must match the batch ground truth exactly, and only the trailing
    # <= 3h of events (1h window + 2h watermark) may be withheld
    batch = (
        spark.read.parquet(str(in_dir))
        .groupBy(
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias(
                "win_start"
            ),
            "event_type",
        )
        .agg(F.count("*").alias("n_batch"))
    )
    joined = ev.join(batch, ["win_start", "event_type"], "left")
    assert joined.filter("n <> n_batch OR n_batch IS NULL").count() == 0
    total = spark.read.parquet(str(in_dir)).count()
    emitted = ev.agg(F.sum("n")).collect()[0][0]
    assert 0 < emitted <= total
    assert total - emitted < 200  # only the tail windows withheld


def test_tsv_roundtrip(spark, tmp_path):
    from clinicaltransformerrelationextraction_spark.operators.candidates import (
        candidates,
    )
    from clinicaltransformerrelationextraction_spark.sources import tsv

    docs = load_documents(spark, SF_SMOKE).limit(50)
    cand = candidates(docs, PipelineConfig())
    shaped = tsv.candidates_to_tsv_shape(cand)
    path = str(tmp_path / "cand_tsv")
    tsv.write_candidates_tsv(shaped, path)
    back = tsv.read_candidates_tsv(spark, path)
    assert back.count() == shaped.count()
    assert back.columns == tsv.TSV_COLUMNS
    assert (
        back.exceptAll(shaped.select(*tsv.TSV_COLUMNS)).count() == 0
    )
    # markers survive the round trip verbatim
    row = back.filter(F.col("sentence_1").contains("[s1]")).first()
    assert "[e1]" in row.sentence_1


def test_truncation_property():
    from clinicaltransformerrelationextraction_spark.operators.scoring import (
        truncate_pair,
    )

    toks_a = ["w"] * 100 + ["[s1]", "ent", "[e1]"] + ["w"] * 100
    toks_b = ["x"] * 50 + ["[s2]", "drug", "[e2]"] + ["x"] * 150
    a, b = truncate_pair(toks_a, toks_b, budget=60)
    assert len(a) + len(b) <= 60
    # markers survive truncation (entity-centered popping)
    assert "[s1]" in a and "[e1]" in a
    assert "[s2]" in b and "[e2]" in b
    # no-op when under budget
    a2, b2 = truncate_pair(["[s1]", "e", "[e1]"], ["[s2]", "d", "[e2]"], 512)
    assert a2 == ["[s1]", "e", "[e1]"] and b2 == ["[s2]", "d", "[e2]"]


def test_ledger_empty_bucket_and_stale_partition(spark, tmp_path):
    """A bucket whose re-run yields ZERO triples must (a) not crash the
    count when no files were written and (b) clear its previously-written
    stale rows (dynamic overwrite alone would keep them)."""
    import json

    docs = load_documents(spark, SF_SMOKE).limit(120)
    run = LedgerRun(out_dir=str(tmp_path / "runE"), n_buckets=4)
    ledger = run.run(docs, PipelineConfig())
    assert all(v["status"] == "done" for v in ledger.values())
    total = run.triples(spark).count()
    assert total > 0

    # find a bucket that produced triples, mark it not-done, and re-run
    # with ONLY out-of-bucket docs -> that bucket is now empty
    target = next(k for k, v in ledger.items() if v["n_triples"] > 0)
    ledger[target]["status"] = "redo"
    run._write_ledger(ledger)
    kept_docs = docs.withColumn(
        "b", F.pmod(F.hash("doc_id"), F.lit(4))
    ).filter(F.col("b") != int(target)).drop("b")
    ledger2 = run.resume(kept_docs, PipelineConfig())
    assert ledger2[target]["status"] == "done"
    assert ledger2[target]["n_triples"] == 0
    remaining = run.triples(spark)
    assert remaining.filter(F.col("bucket") == int(target)).count() == 0

    # first-bucket-empty fresh run must not crash on a missing triples dir
    run2 = LedgerRun(out_dir=str(tmp_path / "runF"), n_buckets=2)
    empty_docs = docs.filter(F.lit(False))
    ledger3 = run2.run(empty_docs, PipelineConfig())
    assert all(v["n_triples"] == 0 for v in ledger3.values())


def test_streaming_dedup_matches_batch_exact_dedup(spark, tmp_path):
    """Streaming content-hash dedup (watermark-bounded state) keeps
    exactly one page per distinct text, and the kept hash set equals the
    batch exact-dedup distinct set. Incremental re-run with extra
    duplicate files emits nothing new for already-seen hashes."""
    from clinicaltransformerrelationextraction_spark.plans.pipeline import (
        documents_as_pages,
        load_documents,
    )
    from clinicaltransformerrelationextraction_spark.streaming.stream_pipeline import (
        stream_dedup_pages,
    )

    # orderBy before limit (LIMIT alone may pick a different subset per
    # re-evaluation), and an immutable STAGING copy as the single source
    # of truth — never re-read a directory that is being appended to
    docs = load_documents(spark, SF_SMOKE).orderBy("doc_id").limit(120)
    staging = str(tmp_path / "pages_staging")
    in_dir = str(tmp_path / "pages_in")
    out_dir = str(tmp_path / "pages_out")
    ckpt = str(tmp_path / "ckpt_dedup")
    documents_as_pages(docs).write.mode("overwrite").parquet(staging)
    base = spark.read.parquet(staging)
    base.write.mode("overwrite").parquet(in_dir)
    # duplicate half the pages as a second file drop (same url/text)
    base.orderBy("url").limit(60).write.mode("append").parquet(in_dir)

    stream_dedup_pages(spark, in_dir, ckpt, out_dir)
    got = spark.read.parquet(out_dir)
    batch_hashes = {
        r.h for r in base.select(F.md5("text").alias("h")).distinct()
        .collect()
    }
    kept = got.groupBy("text_hash").count().collect()
    assert {r.text_hash for r in kept} == batch_hashes
    assert all(r["count"] == 1 for r in kept)  # one keeper per hash

    # second drop: all duplicates of already-processed content
    base.orderBy("url").limit(40).write.mode("append").parquet(in_dir)
    stream_dedup_pages(spark, in_dir, ckpt, out_dir)
    again = spark.read.parquet(out_dir).groupBy("text_hash").count()
    assert again.filter(F.col("count") > 1).count() == 0


def test_stream_pages_latest_matches_batch(spark, tmp_path):
    """The stateful streaming latest-per-url upsert, compacted by
    last-emission-per-url, must equal the batch q_pages_latest over the
    same documents — including across a SECOND incremental file drop
    that updates existing urls."""
    from clinicaltransformerrelationextraction_spark.operators.dedup import (
        pages_with_crawl_ts,
    )
    from clinicaltransformerrelationextraction_spark.plans.pipeline import (
        load_documents,
    )
    from clinicaltransformerrelationextraction_spark.streaming.stream_pipeline import (
        stream_pages_latest,
    )

    docs = load_documents(spark, SF_SMOKE).orderBy("doc_id").limit(120)
    staging = str(tmp_path / "latest_staging")
    in_dir = str(tmp_path / "latest_in")
    out_dir = str(tmp_path / "latest_out")
    ckpt = str(tmp_path / "ckpt_latest")
    docs.write.mode("overwrite").parquet(staging)
    base = spark.read.parquet(staging)
    # split at 58 — deliberately NOT a multiple of RECRAWL_FANOUT=3, so
    # url doc://19 (docs 57,58,59) STRADDLES the two drops: the second
    # drain must restore that url's checkpointed state, upsert it, and
    # re-emit — the cross-drop paths a fanout-aligned split would never
    # exercise (both emissions then survive to the compaction step)
    base.filter(F.col("doc_id") < 58).write.mode("overwrite").parquet(in_dir)
    stream_pages_latest(spark, in_dir, ckpt, out_dir)
    base.filter(F.col("doc_id") >= 58).write.mode("append").parquet(in_dir)
    stream_pages_latest(spark, in_dir, ckpt, out_dir)

    def compact(df):
        w = df.groupBy("url").agg(F.max("n_crawls").alias("n_crawls"))
        return df.join(w, ["url", "n_crawls"])

    got = {
        (r.url, r.n_crawls, r.latest_ts_us, r.latest_doc_id)
        for r in compact(spark.read.parquet(out_dir)).collect()
    }
    # batch twin over the SAME 120-doc subset (not the sf-dir query):
    # same groupBy max(struct) shape
    pages = pages_with_crawl_ts(base)
    want = {
        (r.url, r.n_crawls, r.ts_us, r.doc_id)
        for r in pages.groupBy("url").agg(
            F.count("*").alias("n_crawls"),
            F.max(F.struct("ts_us", "doc_id")).alias("m"),
        ).select("url", "n_crawls", "m.ts_us", "m.doc_id").collect()
    }
    assert got == want and got
    # the straddling url must have TWO emissions (one per drain) — the
    # changelog the compaction exists to resolve
    raw = spark.read.parquet(out_dir).filter(F.col("url") == "doc://19")
    assert raw.count() == 2
