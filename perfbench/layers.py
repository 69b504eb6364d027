"""Per-layer sweep of the traced run.

Each span times calls into one module's public functions. Their inputs
are first written to the run's scratch dir, so a span measures that
layer's own work, and every timed frame goes to the ``noop`` sink,
because ``.count()`` lets Catalyst prune columns.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

from stats import count_files, median

from clinicaltransformerrelationextraction_spark import cli
from clinicaltransformerrelationextraction_spark.operators.candidates import (
    candidates,
)
from clinicaltransformerrelationextraction_spark.operators.postprocess import (
    brat_render,
)
from clinicaltransformerrelationextraction_spark.operators.scoring import (
    enum_score_filter_number,
    score_filter_number,
)
from clinicaltransformerrelationextraction_spark.operators.segmentation import (
    mentions,
)
from clinicaltransformerrelationextraction_spark.plans.pipeline import (
    run_pipeline,
)


def product(argv: list[str], spark) -> dict:
    """One product command through the CLI entry point; the CLI's own
    JSON line goes to stderr so stdout stays the benchmark's."""
    with contextlib.redirect_stdout(sys.stderr):
        return cli.main(argv, spark=spark)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _save(df, path: str) -> str:
    df.write.mode("overwrite").parquet(path)
    return path


def materialize(spark, tr, docs_dir, run_dir, cfg, cfg_mlp) -> dict:
    """Write the inputs of the later layer spans: the workload's mentions
    and the text candidates. Returns their paths."""
    docs = spark.read.parquet(docs_dir)
    with tr.span("materialize.predict_inputs"):
        return {
            "mentions": _save(mentions(docs, cfg), f"{run_dir}/in_mentions"),
            "candidates": _save(candidates(docs, cfg_mlp),
                                f"{run_dir}/in_candidates"),
        }


def predict_layers(spark, tr, docs_dir, inputs, tri, job_dir, cfg,
                   cfg_stub, cfg_mlp, job_s, n_buckets, pair_cap) -> dict:
    """Ledger, pipeline, segmentation, candidates, scoring and
    postprocess layers over the workload's corpus, and the tracing
    overhead. ``cfg`` is the workload's config, ``inputs`` what
    ``materialize`` wrote, ``tri`` the traced product job's triples and
    ``job_s`` its wall time."""
    rd = spark.read.parquet
    docs = rd(docs_dir)
    men, cand = rd(inputs["mentions"]), rd(inputs["candidates"])

    def segment():
        noop(mentions(docs, cfg))

    # the first span's work once outside a span, right before it
    t = time.perf_counter()
    segment()
    untraced_s = time.perf_counter() - t
    timed = {
        "segmentation.mentions_s": segment,
        "pipeline.triples_s": lambda: noop(run_pipeline(docs, cfg).triples),
        "candidates.text_s": lambda: noop(candidates(docs, cfg)),
        "scoring.fused_s": lambda: noop(
            enum_score_filter_number(docs, cfg_stub)),
        "scoring.text_score_s": lambda: noop(score_filter_number(cand,
                                                                 cfg_mlp)),
        "postprocess.brat_s": lambda: noop(brat_render(men, tri)),
    }
    out = {}
    for name, fn in timed.items():
        with tr.span("layer." + name) as sp:
            fn()
        out[name] = (sp.duration, "s")

    n_docs = docs.count()
    n_men, with_men = men.selectExpr(
        "count(*)", "count(DISTINCT doc_id)").first()
    pairs = cand.count()
    # docs whose candidates stop at the per-doc pair cap
    capped = (cand.groupBy("doc_id").count()
              .filter(f"count >= {int(pair_cap)}").count())
    n_trip = tri.count()
    with open(os.path.join(job_dir, "_ledger.json")) as f:
        ledger = json.load(f)
    if len(ledger) != n_buckets:
        raise RuntimeError(f"ledger has {len(ledger)} of {n_buckets} buckets")
    out |= {
        "ledger.bucket_s": (median([v["wall_sec"] for v in ledger.values()]),
                            "s"),
        "ledger.overhead_s": (job_s - out["pipeline.triples_s"][0]
                              - out["postprocess.brat_s"][0], "s"),
        "ledger.files": (count_files(job_dir)[0], "count"),
        "segmentation.mentions": (n_men, "count"),
        "segmentation.docs_no_mentions": (n_docs - with_men, "count"),
        "candidates.pairs": (pairs, "count"),
        "candidates.docs_capped": (capped, "count"),
        "scoring.rows_per_s": (pairs / out["scoring.text_score_s"][0],
                               "rows/s"),
        "scoring.kept_frac": (n_trip / pairs, "ratio"),
        "trace.overhead_s": (out["segmentation.mentions_s"][0]
                             - untraced_s, "s"),
    }
    return out
