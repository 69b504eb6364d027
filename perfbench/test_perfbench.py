"""Tests for the benchmark's own code (no Spark needed).

Run from the repo root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq
import pytest

import checks
import corpus as C
import stats as S
from spans import Span, Tracer, covered, parse_event_log

SMALL = C.CorpusParams(n_pages=300, n_hosts=20)


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _write(tmp_path, name: str, crawl: C.Crawl) -> str:
    path = str(tmp_path / name)
    C.write_crawl(crawl, path, SMALL.n_files)
    return path


# -- generator ----------------------------------------------------------------

def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _write(tmp_path, "a", C.make_crawl(7, SMALL))
    b = _write(tmp_path, "b", C.make_crawl(7, SMALL))
    c = _write(tmp_path, "c", C.make_crawl(8, SMALL))
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_gazetteer_matches_the_product():
    from clinicaltransformerrelationextraction_spark.config import ENT_VOCAB

    assert set(C.GAZETTEER) == set(ENT_VOCAB)


def test_vocabulary_is_large_unique_and_disjoint():
    words = C.vocabulary(C.CorpusParams().vocab)
    assert len(words) >= 10_000
    assert len(set(words)) == len(words)
    assert not set(words) & set(C.GAZETTEER)
    assert all(" " not in w for w in words)


def test_corpus_shape():
    p = C.CorpusParams(n_pages=3000)
    c = C.make_crawl(3, p)
    gaz = set(C.GAZETTEER)
    no_mention = np.mean([not gaz & set(t) for t in c.toks])
    assert abs(no_mention - p.no_mention_frac) < 0.05
    lens = np.array([len(t) for t in c.toks])
    assert lens.max() > 20 * np.median(lens)  # a heavy length tail
    assert len(set(c.doc_id)) == len(c.doc_id)
    assert all(d % 3 == 0 for d in c.doc_id)  # first crawl of each url
    # Zipf hosts: the top host alone holds a large share of the pages
    top = np.bincount(c.host).max() / len(c.host)
    assert top > 0.1


def test_files_group_whole_hosts_and_one_is_hot(tmp_path):
    path = _write(tmp_path, "c", C.make_crawl(5, SMALL))
    seen: dict[str, str] = {}
    rows = []
    for name in sorted(os.listdir(path)):
        t = pq.read_table(os.path.join(path, name))
        rows.append(t.num_rows)
        for h in set(t.column("host").to_pylist()):
            assert seen.setdefault(h, name) == name  # a host in one file
    assert len(rows) > 1
    assert max(rows) > 2 * statistics.median(rows)


def test_cached_builds_once(tmp_path):
    calls = []

    def build(tmp):
        calls.append(tmp)
        os.makedirs(tmp)
        open(os.path.join(tmp, "x"), "w").close()

    a = C.cached(str(tmp_path), "k", build)
    b = C.cached(str(tmp_path), "k", build)
    assert a == b and len(calls) == 1
    assert C.params_key(SMALL) != C.params_key(C.CorpusParams())


# -- statistics ---------------------------------------------------------------

def test_median_and_quartiles_match_statistics():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 7.0]
    assert S.median(xs) == 4.0
    assert S.median([1.0, 2.0, 3.0, 4.0]) == 2.5
    q1, q2, q3 = S.quartiles(xs)
    assert [q1, q2, q3] == statistics.quantiles(xs, n=4)
    assert S.iqr_share(xs) == pytest.approx((q3 - q1) / q2)
    # ten values 1..10: exclusive quartiles 2.75 and 8.25, median 5.5
    assert S.iqr_share([float(i) for i in range(1, 11)]) == pytest.approx(
        (8.25 - 2.75) / 5.5)
    with pytest.raises(ValueError):
        S.median([])


def test_failed_frac():
    assert S.failed_frac(4, 0) == 0.0
    assert S.failed_frac(4, 1) == 0.25
    assert S.failed_frac(3, 3) == 1.0
    for bad in ((0, 0), (2, 3), (2, -1)):
        with pytest.raises(ValueError):
            S.failed_frac(*bad)


def test_tree_pss_counts_this_process_and_skips():
    me = os.getpid()
    assert S.tree_pss_kb(me) > 0
    assert S.tree_pss_kb(me, skip=me) == 0  # no children here


def test_tree_cpu_counts_children_and_skips():
    me = os.getpid()
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import sys, time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.5: pass\nsys.stdin.read()"],
        stdin=subprocess.PIPE)
    try:
        deadline = time.time() + 60
        while S.tree_cpu_s(me) - S.tree_cpu_s(me, skip=child.pid) < 0.4:
            assert time.time() < deadline
            time.sleep(0.1)
    finally:
        child.communicate(b"")
    assert child.returncode == 0


def test_steal_frac():
    before = {"cpu_total_s": 100.0, "cpu_steal_s": 5.0}
    after = {"cpu_total_s": 140.0, "cpu_steal_s": 9.0}
    assert S.steal_frac(before, after) == 0.1
    assert set(before) <= set(S.host_context())


def test_mem_sampler_child_reports_and_ends():
    with S.MemSampler(interval_s=0.05) as mem:
        ballast = bytearray(32 * 2**20)
        ballast[::4096] = b"x" * len(ballast[::4096])
        time.sleep(0.5)
    assert mem.samples >= 1
    assert mem.peak_mb > 32
    assert mem._proc.returncode == 0


# -- spans --------------------------------------------------------------------

def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(1, 2), (1, 2)], 0, 10) == 1


def test_self_time_is_duration_minus_child_cover():
    tr = Tracer("t")
    tr.spans = [
        Span(0, "root", 0.0, 10.0),
        Span(1, "a", 1.0, 4.0, parent=0),
        Span(2, "b", 3.0, 6.0, parent=0),  # overlaps a: cover is 1..6
        Span(3, "grandchild", 1.5, 2.0, parent=1),
    ]
    assert tr.self_time(tr.spans[0]) == pytest.approx(10 - 5)
    assert tr.self_time(tr.spans[1]) == pytest.approx(3 - 0.5)
    assert tr.self_time(tr.spans[3]) == pytest.approx(0.5)


def test_tracer_nests_and_dumps(tmp_path):
    tr = Tracer("run-1")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.span_id and outer.parent is None
    assert inner.run_id == outer.run_id == "run-1"
    assert tr.self_time(outer) <= outer.duration
    path = str(tmp_path / "spans.json")
    tr.dump(path)
    dumped = json.load(open(path))
    assert [d["name"] for d in dumped] == ["outer", "inner"]


def test_parse_event_log(tmp_path):
    def task(stage, t0, t1, shuffle=0, spill=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": t0, "Finish Time": t1},
                "Task Metrics": {
                    "Shuffle Write Metrics": {"Shuffle Bytes Written":
                                              shuffle},
                    "Disk Bytes Spilled": spill, "Memory Bytes Spilled": 0}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "other"}},
        task(0, 0, 1000, shuffle=2**20), task(0, 0, 1000),
        task(1, 0, 1000), task(1, 0, 1000), task(1, 0, 5000, spill=2**20),
        task(2, 0, 99000),  # another group: ignored
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = parse_event_log([str(path)], "g")
    assert got == {"jobs": 1, "stages": 2, "tasks": 5,
                   "shuffle_write_mb": 1.0, "spill_mb": 1.0,
                   "task_skew": 5.0}
    with pytest.raises(ValueError):
        parse_event_log([str(path)], "missing")


# -- oracle checks ------------------------------------------------------------

@pytest.fixture(scope="module")
def duck(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("docs"))
    C.write_crawl(C.make_crawl(11, SMALL), path, SMALL.n_files)
    con = checks.connect(path)
    yield con
    con.close()


def test_capped_oracle_equals_q_triples_when_nothing_is_capped(duck):
    from clinicaltransformerrelationextraction_spark.plans import oracle

    cols = ", ".join(checks.TRIPLE_COLS)
    plain = duck.sql(f"SELECT {cols} FROM ({oracle.q_triples()})").fetchall()
    assert plain
    assert checks.diff(checks.oracle_triples(duck, 10**9), plain) is None


def test_capped_oracle_keeps_the_first_pairs_by_i1_i2(duck):
    from clinicaltransformerrelationextraction_spark.plans import oracle

    cap = 3
    sql = checks.capped_triples_sql(cap)
    per_doc = duck.sql(
        f"SELECT doc_id, count(*) FROM ({sql}) GROUP BY doc_id"
    ).fetchall()
    assert max(n for _, n in per_doc) <= cap
    # every capped triple is one of its doc's first `cap` candidate pairs
    first = set(duck.sql(
        f"SELECT doc_id, i1, i2 FROM ({oracle.q_candidates()}) QUALIFY "
        f"row_number() OVER (PARTITION BY doc_id ORDER BY i1, i2) <= {cap}"
    ).fetchall())
    kept = duck.sql(
        sql.replace("SELECT doc_id, rel_id, pred, subj_id, obj_id, score\n"
                    "FROM triples", "SELECT doc_id, i1, i2 FROM triples")
    ).fetchall()
    assert kept and set(kept) <= first


def test_fingerprint_and_diff_ignore_order():
    rows = [(1, "R1", "adverse", "T1", "T2", 0.4), (2, "R1", "do", "T3",
                                                    "T4", 0.8)]
    assert checks.fingerprint(rows) == checks.fingerprint(rows[::-1])
    assert checks.diff(rows, rows[::-1]) is None
    assert checks.diff(rows, rows[:1]) is not None
