"""Checkpointed, resumable pipeline runs with per-partition lineage —
the north rule's "resumable from checkpoint with per-partition lineage +
metrics".

The reference's ancestor is the batch_* directory loop with skip-if-exists
idempotence (src/batch_prediction.py:60-88; post_processing.py:82-85). Here:

- the corpus is bucketed by ``pmod(hash(doc_id), n_buckets)`` — the sandbox
  stand-in for Iceberg's ``bucket(N, url)`` partition spec;
- a run scores every pending bucket in ONE pass and one write,
  ``partitionBy`` bucket, into an IMMUTABLE per-run data directory
  (``data/v<version>/b=<bucket>``) — never overwriting live files — and
  then commits one ledger row per bucket. The manifest (ledger + snapshot
  log) is what moves, exactly Iceberg's replacePartitions commit protocol:
  readers resolving through an older snapshot keep a consistent view while
  writers commit, re-running a bucket is atomic (the new version becomes
  visible only via the metadata swap), and an empty replacement simply
  drops the bucket from the manifest;
- ``run(..., brat=path)`` (what ``cli predict`` runs) is one pass and two
  writes: the pass scores every input doc once and also renders its brat
  row; it is persisted (``MEMORY_AND_DISK_DESER``), the triples write
  keeps the pending buckets' triples through the same array-literal mask,
  and brat is overwritten from the same pass after the row commits and
  the snapshot, so a crashed out_dir gets whole brat too. ``resume`` scores
  only the pending buckets' docs and writes no brat;
- the files store the kernel's numeric form of a triple and
  ``triples()`` derives the rest with Catalyst projections on read:

  ============  =====================================================
  stored        ``doc_id, rel_n, pred, score, sent_diff, i1, i2``
                (the bucket is the ``b=<bucket>`` directory only)
  public        ``doc_id, rel_id, pred, subj_id, obj_id, score,
                sent_diff, i1, i2, bucket``
  derived       ``rel_id = "R" || rel_n``, ``subj_id = "T" || i1``,
                ``obj_id = "T" || i2``,
                ``bucket = pmod(hash(doc_id), n_buckets)``
  ============  =====================================================

  Storing numbers cut a stub ``predict``'s bytes per input byte (perfbench
  ``write_amp``, seed-1 corpus) from 0.568 to 0.486;
- ``_ledger.json`` holds one row per bucket with exactly the fields
  ``ROW_FIELDS`` — (status, n_docs, n_triples, wall_sec, version,
  n_buckets, config, id_type) — the per-partition lineage + metrics.
  ``n_docs`` and ``n_triples`` are per-bucket counts in one Observation per
  side of the write, so a run costs only the Spark jobs of that write;
  every row of one write records that write's ``wall_sec``. ``version``
  names the run directory, so a bucket's files are always
  ``data/v<version>/b=<bucket>`` (``_bucket_dir``) and no row stores a
  path: an out_dir reads the same wherever it is copied. ``n_buckets``
  pins the bucketing: a run with another count raises instead of
  re-bucketing over done rows. ``config`` pins the scoring config the same
  way (``config_digest``), so a resume under another scorer raises instead
  of mixing two scorers' buckets. ``id_type``, the kernel's doc_id type,
  is recorded by rows and snapshots so ``triples()`` needs no Parquet
  schema inference (a Spark job) before its action;
- ``_snapshots.json`` is ``{"high_water", "snapshots"}``: it appends one
  snapshot (``SNAPSHOT_FIELDS``) per completed run with the full
  bucket -> ``{version, n_triples}`` manifest and parent chaining, and keeps
  the highest snapshot id and data version it ever held, so expiry never
  lets an id be reused; ``triples(snapshot_id=...)`` TIME-TRAVELS to any
  retained snapshot; ``expire_snapshots`` GCs bucket directories no
  retained snapshot references;
- there is one on-disk format. Every entry point reads both files through
  ``_read_ledger``/``_read_log``, which refuse any other shape (a missing or
  extra field, a bare-list log) with a ``ValueError`` that names the file
  and the fields, before any Spark job, write or delete. An out_dir of an
  earlier format is not read or repaired: write to a new one (Iceberg's
  ``format-version`` rule: a reader refuses a format it does not know);
- ``resume()`` skips partitions whose ledger row says done, exactly the
  reference's skip-if-exists, but transactional per partition.

At 10^12 docs the bucket count is the unit of backfill and commit. Spark's
task retry covers a lost executor; a driver crash loses the whole
uncommitted write, and ``resume()`` writes the uncommitted buckets again.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import asdict, dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.scoring import brat_rows, numbered_schema, public_triples
from .pipeline import run_brat, run_pipeline

# the one on-disk format: the exact fields of a ledger row, of the
# snapshot log, of a snapshot and of a manifest entry
ROW_FIELDS = ("status", "n_docs", "n_triples", "wall_sec", "version",
              "n_buckets", "config", "id_type")
LOG_FIELDS = ("high_water", "snapshots")
SNAPSHOT_FIELDS = ("snapshot_id", "parent_id", "ts", "operation",
                   "buckets_written", "buckets_done", "n_buckets", "config",
                   "id_type", "total_triples", "total_docs", "manifest")
MANIFEST_FIELDS = ("version", "n_triples")


def _check_fields(path: str, what: str, got, fields: tuple) -> None:
    """Refuse ``got`` unless it is an object with exactly ``fields``: an
    out_dir of an earlier ledger format is refused, never misread."""
    keys = set(got) if isinstance(got, dict) else set()
    if isinstance(got, dict) and keys == set(fields):
        return
    kind = "" if isinstance(got, dict) else \
        f"a JSON {type(got).__name__}, not an object, "
    raise ValueError(
        f"{path}: {what} is {kind}missing fields "
        f"{sorted(set(fields) - keys)}, extra fields "
        f"{sorted(keys - set(fields))}; it was written in an earlier "
        "ledger format, which is not read: write to a new out_dir"
    )


# PipelineConfig fields that change no triple: the pairs per scorer call,
# the salting modulus and the IVF probe count
UNPINNED_FIELDS = ("batch_size", "salt_buckets", "ann_nprobe")


def config_digest(cfg: PipelineConfig) -> str:
    """Short digest of every ``PipelineConfig`` field that can change the
    triples (all but ``UNPINNED_FIELDS``): the ledger's config pin."""
    pinned = {k: v for k, v in asdict(cfg).items()
              if k not in UNPINNED_FIELDS}
    blob = json.dumps(pinned, sort_keys=True, default=str).encode("utf-8")
    return hashlib.sha256(blob).hexdigest()[:12]


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop API — works for
    local paths AND hdfs://, s3a://, ... (the spark-submit deployments the
    README advertises); driver-local os.path/shutil would silently no-op on
    remote filesystems."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def _has_scheme(path: str) -> bool:
    """True for URI paths (hdfs://, s3a://, file://...): metadata IO must
    go through the Hadoop FileSystem, not driver-local os/open."""
    return "://" in path or path.startswith("file:")


def _active_spark() -> SparkSession:
    s = SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError(
            "a scheme-qualified out_dir needs an active SparkSession for "
            "Hadoop-FileSystem metadata IO"
        )
    return s


def _read_text(path: str) -> str | None:
    """Read a small metadata file; None if absent. Hadoop-FS-routed for
    scheme-qualified paths so the commit protocol works on hdfs://s3a://
    (driver-local open() would silently see nothing there)."""
    if not _has_scheme(path):
        if os.path.exists(path):
            with open(path) as f:
                return f.read()
        return None
    spark = _active_spark()
    fs, hp = _hadoop_fs(spark, path)
    if not fs.exists(hp):
        return None
    stream = fs.open(hp)
    try:
        jvm = spark._jvm
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, False)
        return bytes(baos.toByteArray()).decode("utf-8")
    finally:
        stream.close()


def _write_text(path: str, text: str) -> None:
    """Atomically replace a small metadata file (write tmp + rename-over),
    Hadoop-FS-routed for scheme-qualified paths. Rename OVERWRITES the
    destination in one FS call (FileContext Rename.OVERWRITE — the HDFS
    analog of ``os.replace``): a reader never observes the gap that
    delete-then-rename would open (empty ledger => empty table)."""
    if not _has_scheme(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)
        return
    spark = _active_spark()
    fs, hp = _hadoop_fs(spark, path)
    _, htmp = _hadoop_fs(spark, path + ".tmp")
    out = fs.create(htmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    jvm = spark._jvm
    gateway = spark.sparkContext._gateway
    try:
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            fs.getUri(), spark.sparkContext._jsc.hadoopConfiguration()
        )
        opts = gateway.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
        opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        fc.rename(htmp, hp, opts)
    except Exception as ex:
        # FileContext needs an AbstractFileSystem binding
        # (fs.AbstractFileSystem.<scheme>.impl); ONLY that gap falls back
        # to the pre-existing two-call replace — non-atomic (a reader can
        # hit the gap), but functional. Any other failure (missing tmp,
        # store error) must propagate: entering the fallback on it could
        # delete the good ledger and then fail the rename. Identify the
        # gap by the JAVA EXCEPTION CLASS when Py4J exposes it — message
        # substrings drift across Hadoop versions and Py4J wrapping could
        # route a real store error into the destructive fallback; the
        # substring probe remains only for exceptions with no java_exception
        # attribute (plain Python errors from the gateway itself).
        jex = getattr(ex, "java_exception", None)
        if jex is not None:
            # walk the CAUSE CHAIN, not just the outer class: filesystem
            # layers commonly re-wrap (e.g. inside an IOException), and
            # the old substring probe matched cause text in the rendered
            # traceback — the class check must not be narrower than that
            names, seen = [], 0
            try:
                cur = jex
                while cur is not None and seen < 16:
                    names.append(cur.getClass().getName())
                    cur = cur.getCause()
                    seen += 1
            except Exception:
                pass
            if not any(
                n.endswith("UnsupportedFileSystemException") for n in names
            ):
                raise
        elif "UnsupportedFileSystemException" not in str(ex):
            raise
        if fs.exists(hp):
            fs.delete(hp, False)
        # FileSystem.rename signals failure via its boolean, not an
        # exception — a swallowed False here would silently lose the
        # ledger (delete happened, replace did not)
        if not fs.rename(htmp, hp):
            raise IOError(
                f"metadata rename failed: {path}.tmp -> {path}"
            ) from ex


def _manifest(ledger: dict[str, dict]) -> dict[str, dict]:
    """bucket -> the version and row count of its done row: the immutable
    data directory a snapshot pins."""
    return {
        k: {"version": v["version"], "n_triples": v["n_triples"]}
        for k, v in ledger.items()
        if v["status"] == "done"
    }


def _high_water(snaps: list[dict], high: dict) -> dict:
    """The highest snapshot id and data version any snapshot of the log
    ever recorded: the retained ``snaps`` and the mark ``high`` that the
    expired ones left behind."""
    return {
        "snapshot_id": max([high["snapshot_id"],
                            *(s["snapshot_id"] for s in snaps)]),
        "version": max([high["version"],
                        *(m["version"] for s in snaps
                          for m in s["manifest"].values())]),
    }


@dataclass
class LedgerRun:
    """Checkpointed, resumable pipeline run over hash buckets.

    CONCURRENCY CONTRACT — single writer per ``out_dir``: ledger and
    snapshot commits are read-modify-write without a coordination
    service, so exactly one driver may run()/resume()/expire_snapshots()
    against an out_dir at a time (the same assumption the reference's
    batch_* directory scheme makes, and what Iceberg solves with an
    external catalog's atomic swap). Concurrent writers can lose ledger
    rows or duplicate snapshot versions. READERS are safe at any time:
    data dirs are immutable once written (data/v{v}/b={b}), metadata
    files are replaced via rename (atomic on posix/HDFS; on eventually-
    consistent object stores pair this with a catalog that provides the
    swap), and a reader holding yesterday's snapshot keeps resolving the
    exact data dirs that snapshot pins until expire_snapshots() GCs
    them."""

    out_dir: str
    n_buckets: int = 8
    salt: bool = False  # salted repartition before scoring (hot domains)

    def __post_init__(self) -> None:
        if self.n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {self.n_buckets}")

    @property
    def triples_dir(self) -> str:
        return os.path.join(self.out_dir, "triples")

    @property
    def data_dir(self) -> str:
        return f"{self.triples_dir}/data"

    @property
    def ledger_path(self) -> str:
        return os.path.join(self.out_dir, "_ledger.json")

    @property
    def snapshots_path(self) -> str:
        return os.path.join(self.out_dir, "_snapshots.json")

    @staticmethod
    def _bucket_dir(bucket: int | str, version: int) -> str:
        """Bucket ``bucket``'s data directory under ``triples/data``, as
        the run of ``version`` wrote it (``partitionBy`` names it
        ``b=<bucket>`` inside the run directory ``v<version>``)."""
        return f"v{version}/b={bucket}"

    def _read_ledger(self) -> dict[str, dict]:
        """The ledger, each row checked to have exactly ``ROW_FIELDS``."""
        text = _read_text(self.ledger_path)
        ledger = json.loads(text) if text is not None else {}
        for key, row in ledger.items():
            _check_fields(self.ledger_path, f"bucket {key}", row, ROW_FIELDS)
        return ledger

    def _write_ledger(self, ledger: dict[str, dict]) -> None:
        _write_text(
            self.ledger_path, json.dumps(ledger, indent=1, sort_keys=True)
        )

    def _check_pins(self, ledger: dict[str, dict], config: str) -> None:
        """A row bucketed under another count covers other docs, so
        skipping or re-running it by key would lose or duplicate triples.
        A row scored under another config would leave the table mixing two
        configs' triples."""
        for key, row in ledger.items():
            if row["n_buckets"] != self.n_buckets:
                raise ValueError(
                    f"{self.ledger_path} was written with n_buckets="
                    f"{row['n_buckets']} (bucket {key}), but this run has "
                    f"n_buckets={self.n_buckets}; resume with the ledger's "
                    "bucket count or use a new out_dir"
                )
            if row["config"] != config:
                raise ValueError(
                    f"{self.ledger_path} bucket {key} was scored under "
                    f"config digest {row['config']}, but this run's config "
                    f"digest is {config}; resume with the ledger's scorer "
                    "and options or use a new out_dir"
                )

    def run(
        self,
        docs: DataFrame,
        cfg: PipelineConfig | None = None,
        fail_after: int | None = None,
        brat: str | None = None,
    ) -> dict[str, dict]:
        """Score every not-yet-done bucket in one write; idempotent per
        bucket. ``fail_after`` aborts after N row commits (for resume
        tests) — simulating a driver crash mid-commit; 0 aborts after the
        write, before any commit. With nothing pending it starts no Spark
        job; it only appends the snapshot of a run that crashed after its
        last row commit, if the log lacks it.

        ``brat``: also overwrite that path with the brat rows of every
        input doc (``run_brat``'s rows), after the row commits and the
        snapshot. Then the pass scores every doc once: it is persisted
        (``MEMORY_AND_DISK_DESER``), the triples write keeps the pending
        buckets' triples, and brat is written from the same pass, so a
        crashed out_dir also gets whole brat."""
        if fail_after is not None and fail_after < 0:
            raise ValueError(f"fail_after must be >= 0, got {fail_after}")
        cfg = cfg or PipelineConfig()
        config = config_digest(cfg)
        ledger = self._read_ledger()
        seen = _high_water(*self._read_log())["version"]
        self._check_pins(ledger, config)
        committed = _manifest(ledger)
        is_pending = [str(b) not in committed
                      for b in range(self.n_buckets)]
        pending = [b for b, p in enumerate(is_pending) if p]
        if not pending:
            # a run that crashed after its last row commit left done rows
            # newer than any snapshot ever recorded: snapshot them now,
            # with no Spark job
            written = sum(m["version"] > seen for m in committed.values())
            if written:
                self._append_snapshot(ledger, written, config)
            if brat is not None:
                run_brat(docs, cfg, salt=self.salt).write.mode(
                    "overwrite").parquet(brat)
            return ledger
        t0 = time.time()
        bucket = F.pmod(F.hash("doc_id"), F.lit(self.n_buckets))
        # The generated code depends on n_buckets alone: which docs the
        # pass scores and which buckets' triples the write keeps are array
        # literals (reference objects, not inlined constants), and every
        # bucket gets a count column (buckets not scored count 0 docs). So
        # a resume reuses the classes a full run compiled, and a run with
        # brat, which scores every doc (an all-True mask), runs the classes
        # of one without: a predict leaves a resume's code compiled and
        # warm.
        scored = [True] * self.n_buckets if brat is not None else is_pending
        in_scored = F.element_at(F.lit(scored), bucket + 1)
        in_pending = F.element_at(F.lit(is_pending), bucket + 1)

        def per_bucket_counts(df: DataFrame):
            obs = Observation()
            return df.observe(obs, *[F.count(F.when(bucket == b, 1))
                                     .alias(str(b))
                                     for b in range(self.n_buckets)]), obs

        part, o_docs = per_bucket_counts(docs.filter(in_scored))
        passed = run_pipeline(part, cfg, salt=self.salt,
                              brat=brat is not None).rows
        if brat is not None:
            # memory and disk, so at scale the pass spills instead of being
            # scored again; deserialized, because the cached column batches
            # are byte buffers already and serializing them again costs CPU
            passed.persist(StorageLevel.MEMORY_AND_DISK_DESER)
        try:
            # the pending buckets' triples, without the brat rows; the
            # same filter keeps every row of a pass without brat. The
            # kernel keeps the input doc_id type, so each triple's bucket
            # is the hash of its doc_id; the files store the numeric form
            # only (``triples`` derives the id strings and the bucket on
            # read)
            trip, o_trip = per_bucket_counts(
                passed.filter(F.col("rel_n").isNotNull() & in_pending)
                .drop("ann_text").withColumn("b", bucket))
            id_type = trip.schema["doc_id"].dataType.simpleString()
            # Iceberg-style commit: one IMMUTABLE run directory, its version
            # above every version a row or any snapshot ever pinned, so the
            # overwrite can only replace an uncommitted orphan
            version = 1 + max([seen, *(v["version"] for v in ledger.values())])
            trip.write.partitionBy("b").mode("overwrite").parquet(
                f"{self.data_dir}/v{version}")
            wall = round(time.time() - t0, 3)
            if fail_after == 0:
                raise RuntimeError("simulated failure after 0 buckets")
            for done, b in enumerate(pending, 1):
                n_triples = o_trip.get[str(b)]
                if not n_triples:  # partitionBy writes no directory for it
                    fs, hpath = _hadoop_fs(
                        docs.sparkSession,
                        f"{self.data_dir}/{self._bucket_dir(b, version)}")
                    fs.mkdirs(hpath)
                ledger[str(b)] = {
                    "status": "done",
                    "n_docs": o_docs.get[str(b)],
                    "n_triples": n_triples,
                    "wall_sec": wall,
                    "version": version,
                    "n_buckets": self.n_buckets,
                    "config": config,
                    "id_type": id_type,
                }
                self._write_ledger(ledger)
                if fail_after is not None and done >= fail_after:
                    raise RuntimeError(
                        f"simulated failure after {done} buckets"
                    )
            self._append_snapshot(ledger, len(pending), config)
            if brat is not None:
                brat_rows(passed).write.mode("overwrite").parquet(brat)
        finally:
            if brat is not None:
                passed.unpersist()
        return ledger

    # --- snapshot log (Iceberg-metadata analog) ----------------------------
    # Every completed run()/resume() appends a snapshot: which partitions
    # the table now contains, their row counts, and the parent snapshot —
    # the same commit-lineage contract Iceberg keeps in metadata.json
    # (snapshot-id / parent-snapshot-id / summary). On a real deployment
    # this whole class is replaced by Iceberg replacePartitions commits;
    # the snapshot log is what makes the ledger auditable in the meantime.

    def _read_log(self) -> tuple[list[dict], dict]:
        """The retained snapshots and the log's high-water mark (see
        ``_high_water``), each checked against the one format; an absent
        log has no snapshot and marks nothing written."""
        text = _read_text(self.snapshots_path)
        if text is None:
            return [], {"snapshot_id": 0, "version": -1}
        path = self.snapshots_path
        log = json.loads(text)
        _check_fields(path, "the snapshot log", log, LOG_FIELDS)
        for i, snap in enumerate(log["snapshots"]):
            _check_fields(path, f"log entry {i}", snap, SNAPSHOT_FIELDS)
            for key, entry in snap["manifest"].items():
                _check_fields(path, f"snapshot {snap['snapshot_id']} "
                              f"bucket {key}", entry, MANIFEST_FIELDS)
        return log["snapshots"], log["high_water"]

    def _write_log(self, snaps: list[dict], high: dict) -> None:
        _write_text(self.snapshots_path, json.dumps(
            {"high_water": _high_water(snaps, high), "snapshots": snaps},
            indent=1))

    def snapshots(self) -> list[dict]:
        return self._read_log()[0]

    def _append_snapshot(self, ledger: dict[str, dict],
                         buckets_written: int, config: str) -> dict:
        prior, high = self._read_log()
        # above every id the log ever held, NOT len+1 or max+1 over the
        # retained ones: expire_snapshots truncates the log, and a reused
        # id would shadow a retained snapshot or answer for an expired one
        last = _high_water(prior, high)["snapshot_id"]
        rows = ledger.values()
        snap = {
            "snapshot_id": last + 1,
            "parent_id": last or None,
            "ts": time.time(),
            "operation": "replace-partitions",
            "buckets_written": buckets_written,
            "buckets_done": sum(v["status"] == "done" for v in rows),
            "n_buckets": self.n_buckets,
            "config": config,
            "id_type": next(iter(rows))["id_type"],
            "total_triples": sum(v["n_triples"] for v in rows),
            "total_docs": sum(v["n_docs"] for v in rows),
            # the manifest: which immutable data file set IS this snapshot
            "manifest": _manifest(ledger),
        }
        self._write_log([*prior, snap], high)
        return snap

    def expire_snapshots(self, spark: SparkSession,
                         keep_last: int = 2) -> list[str]:
        """GC: retain the last ``keep_last`` snapshots, drop the older
        entries from the log, and delete every bucket directory that
        neither a retained snapshot nor the CURRENT ledger references (this
        also collects the uncommitted buckets of crashed writes), and every
        run directory with no live bucket left. Returns the deleted
        paths."""
        if keep_last < 0:
            raise ValueError(f"keep_last must be >= 0, got {keep_last}")
        snaps, high = self._read_log()
        ledger = self._read_ledger()
        kept, dropped = snaps[-keep_last:] if keep_last else [], \
            snaps[:-keep_last] if keep_last else snaps
        # bucket directories relative to triples/data/, which sidesteps
        # scheme differences (file:/x vs /x) in the listed paths
        live = {
            self._bucket_dir(k, m["version"])
            for s in kept
            for k, m in s["manifest"].items()
        } | {self._bucket_dir(k, v["version"]) for k, v in ledger.items()}
        # Iceberg's order: commit the truncated log, then delete, so a
        # crash in between leaves only orphans, which the next expiry
        # collects, and never a logged snapshot whose files are gone
        if dropped:
            self._write_log(kept, _high_water(snaps, high))
        fs, hroot = _hadoop_fs(spark, self.data_dir)
        deleted: list[str] = []
        for st in fs.listStatus(hroot) if fs.exists(hroot) else []:
            name = st.getPath().getName()
            kids = {r.partition("/")[2] for r in live
                    if r.startswith(name + "/")}
            # a run directory goes whole only when none of its buckets is
            # live; otherwise only its dead bucket directories go
            doomed = [c for c in fs.listStatus(st.getPath())
                      if c.isDirectory()
                      and c.getPath().getName() not in kids] if kids else [st]
            for d in doomed:
                fs.delete(d.getPath(), True)
                deleted.append(d.getPath().toString())
        return deleted

    def resume(self, docs: DataFrame,
               cfg: PipelineConfig | None = None) -> dict[str, dict]:
        """Continue a crashed run: only buckets without a done ledger row
        are (re)processed."""
        return self.run(docs, cfg)

    def triples(self, spark: SparkSession,
                snapshot_id: int | None = None) -> DataFrame:
        """Manifest-resolved read. Default: the CURRENT table state (the
        live ledger). ``snapshot_id``: time-travel to that retained
        snapshot's file set — the old data dirs are immutable, so the view
        is exactly what that commit produced. A table with no triples has
        the same columns and dtypes; only an out_dir with no row yet reads
        ``bigint`` doc ids."""
        # both files, whichever one the read resolves through: an out_dir
        # of an earlier format is refused whole
        ledger, snaps = self._read_ledger(), self.snapshots()
        if snapshot_id is None:
            manifest = _manifest(ledger)
            # every row has the pinned n_buckets
            n_buckets, id_type = next(
                ((v["n_buckets"], v["id_type"]) for v in ledger.values()),
                (self.n_buckets, "bigint"))
        else:
            by_id = {s["snapshot_id"]: s for s in snaps}
            if snapshot_id not in by_id:
                raise ValueError(
                    f"snapshot {snapshot_id} not found (retained: "
                    f"{sorted(by_id)}); it may have been expired"
                )
            snap = by_id[snapshot_id]
            manifest, n_buckets, id_type = \
                snap["manifest"], snap["n_buckets"], snap["id_type"]
        paths = [f"{self.data_dir}/{self._bucket_dir(k, m['version'])}"
                 for k, m in manifest.items() if m["n_triples"] > 0]
        schema = numbered_schema(id_type)
        stored = spark.read.schema(schema).parquet(*paths) if paths \
            else spark.createDataFrame([], schema)
        # n_buckets is pinned, so the hash is the bucket the write
        # partitioned by
        return public_triples(stored.withColumn(
            "bucket", F.pmod(F.hash("doc_id"), F.lit(n_buckets))))
