"""Versioned ingest state — the persisted-table side of incremental dedup.

``operators/incremental.py`` defines the delta-vs-index MATH (each
function takes the old state as DataFrames); this module is the
OPERATIONAL half: a state directory that owns those tables across
ingests, with the same commit discipline as the triples ledger
(immutable data dirs + one atomically-renamed manifest, plans/ledger.py).

Layout under ``root/``::

    MANIFEST.json            # the ONLY mutable file (tmp + rename-over)
    docs/ingest_00001/       # append-only logs: one immutable parquet
    bands/ingest_00001/      #   dir per ingest; the manifest lists the
    shingles/ingest_00001/   #   committed dirs, readers union exactly
    pairs/ingest_00002/      #   those (orphans from a crash are invisible)
    edges/ingest_00001/      #   KG edge log: the delta's canonical edges
    labels/v_00002/          # compacted states: rewritten per ingest into
    hash_index/v_00002/      #   a NEW version dir; old versions stay
    kmv/v_00002/             #   readable until expire()
    hll/v_00002/
    graph/v_00002/           # entity -> component (contraction-merged)
    latest/v_00002/          # latest-crawl-per-url snapshot

Crash contract: every data dir is written BEFORE the manifest rename, so
a crash mid-ingest leaves the previous manifest fully consistent; the
retried ingest reuses the same version number and ``mode("overwrite")``
replaces any partial dir. Readers never lock — they see either the old
or the new manifest, both complete.

Scale notes (the 100 TB shape this models): the append logs are the
tables a real deployment bucket-partitions — ``bands`` by (band, bkey)
so a delta's LSH probe join moves only the delta, ``shingles`` by doc_id
for the verify's semi-joined columnar read. The compacted states are
slim (labels: 2 longs + a flag per doc; hash_index: one row per distinct
content hash; sketches: ≤K rows per language) — rewriting them per
ingest is a narrow shuffle-free scan, not a corpus rewrite. The corpus
TEXT enters an ingest exactly once — its own delta: because the shingle
log is appended under the same manifest commit as everything else, the
state dir passes ``old_docs=None`` to the verify, which drops the text
backfill branch (the only possible full-history scan) from the plan.

Reference anchor: the reference re-reads the full corpus per run
(src/relation_extraction.py, src/batch_prediction.py:92-136) — it has no
between-run state at all; this is beyond-reference operational surface.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    bands_frame,
    exact_partial,
    latest_partial,
    pages_with_crawl_ts,
    shingle_frame,
)
from ..operators.graph import min_label_components, undirected_edges
from ..operators.incremental import (
    hll_merge,
    incremental_dedup,
    incremental_exact,
    kmv_merge,
    merge_components,
    merge_latest,
)
from ..operators.textstats import (
    hll_registers,
    kmv_sketch,
    lang_shingle_hashes,
)
from .ledger import _fs_exists, _hadoop_fs, _read_text, _write_text
from .pipeline import run_linked

APPEND_TABLES = ("docs", "bands", "shingles", "pairs", "edges")
COMPACT_TABLES = ("labels", "hash_index", "kmv", "hll", "graph", "latest")


def _basename(path: str) -> str:
    return path.rstrip("/").rsplit("/", 1)[-1]


class IngestState:
    """Owns the persisted dedup/sketch state under ``root`` and applies
    one delta per :meth:`ingest` call (bootstrap = first ingest)."""

    def __init__(self, root: str):
        self.root = root.rstrip("/")

    # -- manifest -----------------------------------------------------------

    @property
    def manifest_path(self) -> str:
        return f"{self.root}/MANIFEST.json"

    def manifest(self) -> dict | None:
        raw = _read_text(self.manifest_path)
        return json.loads(raw) if raw is not None else None

    # -- reads (manifest-resolved) ------------------------------------------
    # Pass the same ``manifest`` dict to several reads to resolve them all
    # against ONE committed snapshot (ingest() does); each call otherwise
    # re-reads the manifest, which is per-call — not multi-table —
    # consistency under a concurrent commit.

    def read_append(
        self, spark: SparkSession, table: str, manifest: dict | None = None
    ) -> DataFrame:
        m = manifest or self.manifest()
        paths = list(m["appends"][table]) if m else []
        if not paths:
            raise ValueError(
                f"ingest state at {self.root} has no committed "
                f"'{table}' data (empty or missing manifest)"
            )
        return spark.read.parquet(*paths)

    def read_compact(
        self, spark: SparkSession, table: str, manifest: dict | None = None
    ) -> DataFrame:
        m = manifest or self.manifest()
        if m is None:
            raise ValueError(f"no manifest at {self.manifest_path}")
        return spark.read.parquet(m["compacted"][table])

    def docs(self, spark: SparkSession) -> DataFrame:
        return self.read_append(spark, "docs")

    def labels(self, spark: SparkSession) -> DataFrame:
        return self.read_compact(spark, "labels")

    # -- the one write path -------------------------------------------------

    def ingest(self, spark: SparkSession, new_docs: DataFrame) -> dict:
        """Apply one delta: dedup it against the persisted index, fold the
        exact-hash index and the KMV/HLL sketches, extract the delta's
        triples and contract-merge its entity edges into the persisted
        component labels, fold the latest-per-url snapshot, and commit
        the new state. Returns the ingest stats (also recorded in the
        manifest)."""
        new_docs = new_docs.select("doc_id", "text", "lang")
        m = self.manifest()
        v = (m["version"] + 1) if m else 1
        if m:
            # old_docs stays None: the shingle log is complete by
            # construction (appended under the same manifest commit), so
            # the verify's text backfill — the only full-history scan —
            # is omitted from the plan; the docs log is the system of
            # record for READERS, never rescanned by an ingest
            old_docs = None
            old_index = self.read_append(spark, "bands", m)
            old_shingles = self.read_append(spark, "shingles", m)
            old_labels = self.read_compact(spark, "labels", m)
            old_hash = self.read_compact(spark, "hash_index", m)
            old_kmv = self.read_compact(spark, "kmv", m)
            old_hll = self.read_compact(spark, "hll", m)
            old_graph, old_latest, backfill_edges = self._graph_state(
                spark, m
            )
        else:
            # bootstrap: empty "old" state derived from the delta's own
            # constructors, so the schemas can never drift from the real
            # tables' (no hand-maintained schema strings)
            zero = new_docs.limit(0)
            old_docs = zero
            old_index = bands_frame(zero)
            old_shingles = shingle_frame(zero)
            old_labels = zero.select(
                "doc_id",
                F.col("doc_id").alias("cluster_id"),
                F.lit(1).alias("is_keeper"),
            )
            old_hash = exact_partial(zero)
            old_kmv = kmv_sketch(zero)
            old_hll = hll_registers(zero)
            old_graph = None  # derived from the delta's own edge schema
            old_latest = latest_partial(pages_with_crawl_ts(zero))
            backfill_edges = None

        verified, labels, new_b, new_sh = incremental_dedup(
            old_docs, old_index, old_labels, new_docs,
            old_shingles=old_shingles if m else None,
        )
        hash_index = incremental_exact(old_hash, new_docs)
        # one hash pass over the delta feeds BOTH sketches
        delta_h = lang_shingle_hashes(new_docs).localCheckpoint(eager=False)
        kmv = kmv_merge(old_kmv, kmv_sketch(None, hashes=delta_h))
        hll = hll_merge(old_hll, hll_registers(None, hashes=delta_h))
        # knowledge-graph + crawl-snapshot state (the kg_construct leg):
        # triples are per-doc facts, so the DELTA alone yields its edge
        # contribution; contract-merge it into the persisted component
        # labels and fold the delta's crawl log into the latest-per-url
        # snapshot — the corpus never re-extracts
        delta_edges = undirected_edges(run_linked(new_docs)).localCheckpoint(eager=False)
        if old_graph is None:  # bootstrap: schema from the real constructor
            old_graph = min_label_components(delta_edges.limit(0))
        graph = merge_components(old_graph, delta_edges)
        latest = merge_latest(old_latest, pages_with_crawl_ts(new_docs))

        tag = f"{v:05d}"
        append_writes = {
            "docs": new_docs, "bands": new_b,
            "shingles": new_sh, "pairs": verified, "edges": delta_edges,
        }
        appends = dict(m["appends"]) if m else {}
        for t in APPEND_TABLES:
            # .get: manifests written before a table existed lack its key
            appends.setdefault(t, [])
        if backfill_edges is not None:
            # one-time upgrade of a pre-graph-era state dir: the edge log
            # reconstructed from the docs log commits alongside the delta
            path = f"{self.root}/edges/backfill_{tag}"
            backfill_edges.write.mode("overwrite").parquet(path)
            appends["edges"] = appends["edges"] + [path]
        for t, df in append_writes.items():
            path = f"{self.root}/{t}/ingest_{tag}"
            df.write.mode("overwrite").parquet(path)
            appends[t] = appends[t] + [path]
        compacted = {}
        for t, df in (("labels", labels), ("hash_index", hash_index),
                      ("kmv", kmv), ("hll", hll), ("graph", graph),
                      ("latest", latest)):
            path = f"{self.root}/{t}/v_{tag}"
            df.write.mode("overwrite").parquet(path)
            compacted[t] = path

        # stats from the COMMITTED files (cheap: all slim tables)
        n_delta = spark.read.parquet(appends["docs"][-1]).count()
        n_pairs = spark.read.parquet(appends["pairs"][-1]).count()
        lab = spark.read.parquet(compacted["labels"])
        agg = lab.agg(
            F.count("*").alias("n"),
            F.countDistinct("cluster_id").alias("c"),
        ).first()
        gagg = spark.read.parquet(compacted["graph"]).agg(
            F.count("*").alias("n"), F.sum("is_root").alias("c")
        ).first()
        stats = {
            "version": v, "n_delta_docs": n_delta,
            "n_new_verified_pairs": n_pairs,
            "n_docs_total": agg["n"], "n_clusters_total": agg["c"],
            "n_entities": gagg["n"] or 0,
            "n_components": int(gagg["c"] or 0),
            "n_urls": spark.read.parquet(compacted["latest"]).count(),
        }
        manifest = {"version": v, "appends": appends,
                    "compacted": compacted, "stats": stats}
        _write_text(self.manifest_path, json.dumps(manifest, indent=1))
        return stats

    def _graph_state(self, spark: SparkSession, m: dict):
        """Resolve ``(old_graph, old_latest, backfill_edges)`` from a
        committed manifest. A manifest written before the graph/latest
        tables existed gets a ONE-TIME backfill derived from the docs log
        — the documented full-history scan of a state-dir schema upgrade
        (the same contract as the stale-shingle-table backfill in
        ``incremental_verified_pairs``); the reconstructed edge log is
        returned so :meth:`ingest` commits it and the next ingest reads
        tables again."""
        if "graph" in m["compacted"]:
            return (
                self.read_compact(spark, "graph", m),
                self.read_compact(spark, "latest", m),
                None,
            )
        docs_log = self.read_append(spark, "docs", m)
        old_edges = undirected_edges(run_linked(docs_log)).localCheckpoint(eager=False)
        return (
            min_label_components(old_edges),
            latest_partial(pages_with_crawl_ts(docs_log)),
            old_edges,
        )

    # -- maintenance --------------------------------------------------------

    def compact(self, spark: SparkSession, min_dirs: int = 2) -> dict:
        """Rewrite each append log's committed dirs into ONE dir and
        commit a manifest pointing at it — the small-files maintenance
        op: an hourly ingest cadence accrues ~8,760 dirs per table per
        year, and readers' file listing/planning degrades long before
        data volume does. Data is rewritten UNCHANGED (the log is the
        state; no dedupe, no reorder semantics) under the same crash
        contract as ingest: the compacted dir is fully written before
        the manifest rename, so a crash leaves the previous manifest
        consistent and an invisible orphan; the superseded per-ingest
        dirs become orphans GC'd by :meth:`expire`.

        Every append log is compacted (``docs``' rewrite is a full corpus
        copy); logs with fewer than ``min_dirs`` committed dirs are left
        alone. Returns
        {table: n_dirs_compacted} for the tables rewritten."""
        m = self.manifest()
        if m is None:
            return {}
        v = m["version"] + 1
        tag = f"{v:05d}"
        appends = dict(m["appends"])
        done: dict[str, int] = {}
        for t in APPEND_TABLES:
            paths = appends.get(t, [])
            if len(paths) < min_dirs:
                continue
            path = f"{self.root}/{t}/compact_{tag}"
            spark.read.parquet(*paths).write.mode("overwrite").parquet(path)
            appends[t] = [path]
            done[t] = len(paths)
        if not done:
            return {}
        manifest = {
            "version": v,
            "appends": appends,
            "compacted": m["compacted"],
            "stats": {"version": v, "compacted_appends": done},
        }
        _write_text(self.manifest_path, json.dumps(manifest, indent=1))
        return done

    # -- retention ----------------------------------------------------------

    def expire(self, spark: SparkSession, keep_last: int = 1) -> list[str]:
        """Delete compacted version dirs (and crash-orphaned append dirs)
        the manifest does not reference, keeping the newest ``keep_last``
        compacted versions. The append LOG is never expired — it is the
        state. Returns the deleted paths."""
        if keep_last < 0:
            raise ValueError(f"keep_last must be >= 0, got {keep_last}")
        m = self.manifest()
        if m is None:
            return []
        # compare BASENAMES, never full path strings: Hadoop listStatus
        # normalizes schemes (file:///x -> file:/x), so a string compare
        # against manifest paths would mark every live dir dead and
        # delete the state (the ledger's expire_snapshots learned the
        # same lesson, plans/ledger.py:346-350); ingest_<tag>/v_<tag>
        # basenames are unique within each table root
        live = {
            t: {_basename(p) for p in ps} for t, ps in m["appends"].items()
        }
        # version tags come from DISK (the manifest only records the
        # current version), ordered NUMERICALLY (lexicographic order
        # breaks when the zero-padded tag overflows five digits); always
        # keep the manifest-referenced tag even if keep_last ages it out
        disk_tags: set[str] = set()
        for t in COMPACT_TABLES:
            troot = f"{self.root}/{t}"
            if not _fs_exists(spark, troot):
                continue
            fs, hroot = _hadoop_fs(spark, troot)
            for st in fs.listStatus(hroot):
                name = st.getPath().getName()
                if name.startswith("v_") and name[2:].isdigit():
                    disk_tags.add(name[2:])
        keep_tags = set(
            sorted(disk_tags, key=int)[-keep_last:] if keep_last else []
        )
        keep_tags |= {
            _basename(p)[2:] for p in m["compacted"].values()
        }
        deleted: list[str] = []
        for t in COMPACT_TABLES + APPEND_TABLES:
            troot = f"{self.root}/{t}"
            if not _fs_exists(spark, troot):
                continue
            fs, hroot = _hadoop_fs(spark, troot)
            for st in fs.listStatus(hroot):
                path, name = st.getPath(), st.getPath().getName()
                ok = (name in live.get(t, ())) or (
                    name.startswith("v_") and name[2:] in keep_tags
                )
                if not ok:
                    fs.delete(path, True)
                    deleted.append(f"{troot}/{name}")
        return deleted
