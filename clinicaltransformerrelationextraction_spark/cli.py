"""CLI — the reference's argument surface mapped onto the Spark engine.

Mirrors the flags of ``src/relation_extraction.py:81-173`` (prediction
side), ``src/batch_prediction.py:92-136`` (corpus mode) and the JSON-config
entry point ``src/relation_extraction_json.py:8-69`` where they affect
dataflow semantics; training-only flags (epochs, learning rate, losses)
are out of scope — training remains a torch job fed from the candidate
tables (SURVEY.md §7.1.10).

Usage (spark-submit shape; build ctre.zip with
``python -m tools.make_pyfiles``, launch through the application-file
wrapper ``tools/ctre_submit.py`` — spark-submit has no ``-m`` flag —
both tested end-to-end in tests/test_pyfiles_submit.py; locally the
module form ``python -m clinicaltransformerrelationextraction_spark.cli``
works directly):

    spark-submit --master <cluster> --py-files ctre.zip tools/ctre_submit.py \\
        predict --input /data/documents --output /out/run1 \\
        --scorer stub --max-seq-length 512 --data-format-mode 0

Subcommands:
    predict    documents parquet -> ledger triples + brat .ann parquet
               (the flagship pipeline; --scorer binary selects the
               REL/NonRel head + type-pair relation map); re-running it on
               a crashed out_dir finishes the pending buckets and writes
               brat
    resume     continue a checkpointed ledger run (skip done buckets;
               writes triples only, no brat)
    eval       gold vs system triple tables -> P/R/F1 (a predict output
               dir is read through its ledger)
    featurize  documents parquet -> train.tsv/dev.tsv in the reference's
               8-column contract + labels.json (the training handoff the
               reference's preprocessing notebook produces; the torch
               training job consumes these unchanged)
    analyze    corpus analytics (dedup/quality/tfidf/packing) -> parquet
    ingest     incremental ingest of a documents delta into a versioned
               state dir (plans/ingest.py): dedup indexes, KMV/HLL
               sketches, KG component labels, latest-per-url snapshot
    stream     Structured-Streaming AvailableNow drain of an input dir
               (triples | event-counts | dedup-pages | pages-latest |
               sessionize); re-run with the same checkpoint to process
               only files added since the last drain
"""

from __future__ import annotations

import argparse
import json
import sys

from .config import PipelineConfig


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--input", required=True,
                   help="documents parquet dir (doc_id, text, lang)")
    p.add_argument("--output", required=True, help="output dir")
    p.add_argument("--config-json", default=None,
                   help="JSON file of PipelineConfig overrides "
                        "(relation_extraction_json.py analog)")
    # no choices= constraint: any name registered via register_scorer()
    # is selectable from the CLI (the documented extension contract —
    # README "Custom scorer backends"); an unknown name fails later with
    # _resolve_factory's descriptive error listing what IS registered
    p.add_argument("--scorer", default="stub",
                   help="scoring backend: stub | mlp | npt | hf | binary "
                        "(REL/NonRel head + type-pair relation map), or any "
                        "register_scorer() name (hf requires transformers)")
    p.add_argument("--max-seq-length", type=int, default=512,
                   help="token budget incl. special tokens")
    p.add_argument("--data-format-mode", type=int, default=0,
                   choices=[0, 1], help="0=sep [CLS]S1[SEP]S2[SEP], "
                                        "1=uni [CLS]S1S2[SEP]")
    p.add_argument("--classification-scheme", type=int, default=2,
                   choices=[0, 1, 2, 3],
                   help="classifier head over pooled/marker hidden states "
                        "(reference --classification_scheme; npt backend "
                        "only — a trained hf checkpoint's head is baked "
                        "into its weights)")
    p.add_argument("--eval-batch-size", type=int, default=1024,
                   help="candidate pairs per scorer call")
    p.add_argument("--max-pairs-per-doc", type=int, default=10_000)
    p.add_argument("--n-buckets", type=int, default=8,
                   help="ledger partitions (batch_* dir analog)")
    p.add_argument("--salt", action="store_true",
                   help="salted repartition before scoring (hot domains)")


def _cfg_from(args: argparse.Namespace) -> PipelineConfig:
    cfg = PipelineConfig(
        scorer=args.scorer,
        max_seq_len=args.max_seq_length,
        batch_size=args.eval_batch_size,
        max_pairs_per_doc=args.max_pairs_per_doc,
        data_format_mode=args.data_format_mode,
        classification_scheme=args.classification_scheme,
    )
    if args.config_json:
        with open(args.config_json) as f:
            for k, v in json.load(f).items():
                if not hasattr(cfg, k):
                    raise SystemExit(f"unknown config key: {k}")
                setattr(cfg, k, v)
    return cfg


def cmd_predict(args: argparse.Namespace, spark=None) -> dict:
    """One ledger run (pending buckets only, so it also finishes a crashed
    out_dir) that also writes ``<output>/brat``: one doc-row pass scores
    every input doc once, and the ledger write takes the pending buckets'
    triples and the brat write every doc's ``.ann`` row from it
    (``LedgerRun.run(..., brat=...)``). After it brat equals brat over the
    ledger's triples whenever every committed bucket was scored under the
    same config, which the ledger's config pin ensures."""
    from .plans.ledger import LedgerRun
    from .session import get_spark

    spark = spark or get_spark(app_name="ctre-predict")
    docs = spark.read.parquet(args.input)
    run = LedgerRun(out_dir=args.output, n_buckets=args.n_buckets,
                    salt=args.salt)
    ledger = run.run(docs, _cfg_from(args), brat=f"{args.output}/brat")
    return {"n_triples": sum(v["n_triples"] for v in ledger.values())}


def cmd_resume(args: argparse.Namespace, spark=None) -> dict:
    from .plans.ledger import LedgerRun
    from .session import get_spark

    spark = spark or get_spark(app_name="ctre-resume")
    docs = spark.read.parquet(args.input)
    run = LedgerRun(out_dir=args.output, n_buckets=args.n_buckets,
                    salt=args.salt)
    ledger = run.resume(docs, _cfg_from(args))
    return {"n_triples": sum(v["n_triples"] for v in ledger.values()),
            "buckets_done": sum(
                1 for v in ledger.values() if v["status"] == "done")}


def cmd_featurize(args: argparse.Namespace, spark=None) -> dict:
    """Training-data featurization (preprocessing.ipynb cells 5-6,
    sample_data/*.tsv contract): candidate pairs labeled by the gold rule,
    split train/dev by a deterministic md5 fold, written as the
    reference's 8-column TSV + labels.json."""
    import os

    from pyspark.sql import functions as F

    from .config import LABELS
    from .operators.candidates import candidates
    from .operators.evaluation import gold_label_expr, stub_label_idx_expr
    from .session import get_spark
    from .sources.tsv import candidates_to_tsv_shape, write_candidates_tsv

    spark = spark or get_spark(app_name="ctre-featurize")
    docs = spark.read.parquet(args.input)
    cfg = _cfg_from(args)
    cand = candidates(docs, cfg)
    # gold-rule label via the SHARED expressions (one definition for
    # featurize labels, eval gold and loss counts)
    idx = stub_label_idx_expr(
        F.col("s1_marked"), F.col("s2_marked"), F.col("i1"), F.col("i2")
    )
    labeled = cand.withColumn(
        "gold_label", gold_label_expr(idx, F.col("i1"), F.col("i2"))
    )
    # deterministic md5 dev fold (the W6 split primitive): no global sort
    fold = F.conv(
        F.substring(F.md5(F.concat_ws("|", "doc_id", "i1", "i2")), 1, 4),
        16, 10,
    ).cast("int") % args.n_folds
    labeled = labeled.withColumn("fold", fold)
    tr = candidates_to_tsv_shape(
        labeled.filter(F.col("fold") != 0), label_col="gold_label"
    )
    dv = candidates_to_tsv_shape(
        labeled.filter(F.col("fold") == 0), label_col="gold_label"
    )
    write_candidates_tsv(tr, f"{args.output}/train.tsv")
    write_candidates_tsv(dv, f"{args.output}/dev.tsv")
    os.makedirs(args.output, exist_ok=True)
    with open(f"{args.output}/labels.json", "w") as f:
        json.dump({lab: i for i, lab in enumerate(LABELS)}, f, indent=1)
    # read back through the SAME no-quoting reader the contract defines
    from .sources.tsv import read_candidates_tsv

    n_train = read_candidates_tsv(spark, f"{args.output}/train.tsv").count()
    n_dev = read_candidates_tsv(spark, f"{args.output}/dev.tsv").count()
    return {"n_train": n_train, "n_dev": n_dev, "labels": len(LABELS)}


ANALYZE_QUERIES = {
    # corpus-analysis surface: name -> operators.textstats/dedup callable
    # (all oracle-checked queries; the CLI writes their output as parquet)
    "token_stats": ("textstats", "q_token_stats"),
    "lang_id": ("textstats", "q_lang_id"),
    "quality": ("textstats", "q_quality"),
    "tfidf": ("textstats", "q_tfidf_topk"),
    "ngrams": ("textstats", "q_ngram_topk"),
    "contamination": ("textstats", "q_contamination"),
    "pack_bins": ("textstats", "q_pack_bins"),
    "dedup_exact": ("dedup", "q_dedup_exact"),
    "dedup_pairs": ("dedup", "q_dedup_jaccard"),
    "dedup_containment": ("dedup", "q_dedup_containment"),
    "dedup_clusters": ("dedup", "q_dedup_clusters"),
    "pages_latest": ("dedup", "q_pages_latest"),
}


def cmd_analyze(args: argparse.Namespace, spark=None) -> dict:
    """Corpus-analysis toolbox: run the selected training-data-pipeline
    analyses over a documents directory and write each result as parquet
    under ``--output/<name>``. Beyond the reference's surface (it has no
    corpus analytics), but the natural operational entry point for the
    dedup/quality/packing queries a 100 TB ingest runs before training."""
    import importlib

    from .functions.util import observe_count
    from .session import get_spark

    # validate BEFORE paying JVM/session startup; `is None` (not falsy)
    # so an explicitly empty --queries errors instead of silently
    # running all analyses
    names = sorted(ANALYZE_QUERIES) if args.queries is None else args.queries
    unknown = [n for n in names if n not in ANALYZE_QUERIES]
    if unknown or not names:
        raise SystemExit(
            f"unknown analyses {unknown or '(empty list)'}; available: "
            f"{sorted(ANALYZE_QUERIES)}"
        )
    spark = spark or get_spark(app_name="ctre-analyze")
    out: dict = {}
    for n in names:
        mod_name, fn_name = ANALYZE_QUERIES[n]
        mod = importlib.import_module(
            f".operators.{mod_name}", __package__
        )
        df, obs = observe_count(getattr(mod, fn_name)(spark, args.input))
        df.write.mode("overwrite").parquet(f"{args.output}/{n}")
        out[n] = obs.get["n"]
    return out


def cmd_ingest(args: argparse.Namespace, spark=None) -> dict:
    """Incremental corpus ingest: dedup a documents delta against the
    persisted state directory (LSH band index, cluster labels, exact-hash
    index, KMV/HLL sketches), extract the delta's triples and fold its
    entity edges into the persisted KG component labels + the crawl log
    into the latest-per-url snapshot, and commit the updated state. First
    call on an empty state dir bootstraps. See plans/ingest.py for the
    layout and crash contract."""
    from .plans.ingest import IngestState
    from .session import get_spark

    spark = spark or get_spark(app_name="ctre-ingest")
    state = IngestState(args.state)
    out = state.ingest(spark, spark.read.parquet(args.delta))
    if args.compact_appends is not None:
        # compact BEFORE expire so the superseded per-ingest dirs fall out
        # of the manifest and the same expire call GCs them
        out["compacted_appends"] = state.compact(
            spark, min_dirs=args.compact_appends
        )
    if args.expire_keep is not None:
        out["expired"] = len(state.expire(spark, keep_last=args.expire_keep))
    return out


STREAM_MODES = (
    "triples", "event-counts", "dedup-pages", "pages-latest", "sessionize"
)


def cmd_stream(args: argparse.Namespace, spark=None) -> dict:
    """Structured-Streaming surface: one AvailableNow drain of the input
    directory through the selected streaming pipeline
    (streaming/stream_pipeline.py). Re-running with the same --checkpoint
    processes only files added since the last drain — the stream-native
    resume story (the batch twin is `resume` over the ledger)."""
    from pyspark.errors import AnalysisException

    from .session import get_spark
    from .streaming import stream_pipeline as sp
    from .streaming.sessionize import sessionize_stream

    spark = spark or get_spark(app_name="ctre-stream")
    ckpt = args.checkpoint or f"{args.output.rstrip('/')}/_checkpoint"
    # dict dispatch (the main() subcommand pattern): a STREAM_MODES entry
    # without a branch here is a KeyError at the dispatch site, never a
    # silent fall-through into the wrong pipeline
    runs = {
        "triples": lambda: sp.stream_triples(
            spark, args.input, args.output, ckpt
        ),
        "event-counts": lambda: sp.stream_event_counts(
            spark, args.input, ckpt, args.output
        ),
        "dedup-pages": lambda: sp.stream_dedup_pages(
            spark, args.input, ckpt, args.output
        ),
        "pages-latest": lambda: sp.stream_pages_latest(
            spark, args.input, ckpt, args.output
        ),
        "sessionize": lambda: sessionize_stream(
            spark, args.input, ckpt, args.output
        ),
    }
    runs[args.mode]()
    try:
        n = spark.read.parquet(args.output).count()
    except AnalysisException:
        n = 0  # a drain that emitted no rows writes no readable parquet;
        # any other read failure (permissions, corrupt footer) propagates
    return {"mode": args.mode, "checkpoint": ckpt, "out_rows_total": n}


def cmd_eval(args: argparse.Namespace, spark=None) -> dict:
    """A side that holds a ``_ledger.json`` (a predict/resume out_dir) is
    read through its manifest, which skips uncommitted buckets and older
    run directories; any other side is a plain triples parquet."""
    from .operators.evaluation import relation_match_prf
    from .plans.ledger import LedgerRun, _fs_exists
    from .session import get_spark

    spark = spark or get_spark(app_name="ctre-eval")

    def read(path: str):
        run = LedgerRun(out_dir=path)
        if _fs_exists(spark, run.ledger_path):
            return run.triples(spark)
        return spark.read.parquet(path)

    sys_t, gold_t = read(args.system), read(args.gold)
    row = relation_match_prf(sys_t, gold_t).first()
    return {k: row[k] for k in
            ("tp", "fp", "fn", "precision", "recall", "f1")}


def main(argv: list[str] | None = None, spark=None) -> dict:
    top = argparse.ArgumentParser(prog="ctre-spark")
    sub = top.add_subparsers(dest="cmd", required=True)
    p_pred = sub.add_parser("predict", help="documents -> triples + brat")
    _add_common(p_pred)
    p_res = sub.add_parser("resume", help="continue a checkpointed run")
    _add_common(p_res)
    p_eval = sub.add_parser("eval", help="system vs gold triples -> P/R/F1")
    p_eval.add_argument("--system", required=True)
    p_eval.add_argument("--gold", required=True)
    p_feat = sub.add_parser(
        "featurize", help="documents -> train/dev TSVs + labels.json"
    )
    _add_common(p_feat)
    p_feat.add_argument("--n-folds", type=int, default=5,
                        help="dev = fold 0 of an md5-mod split")
    p_an = sub.add_parser(
        "analyze",
        help="corpus analytics: dedup/quality/tfidf/packing -> parquet",
    )
    p_an.add_argument("--input", required=True,
                      help="sf-style dir holding documents.parquet")
    p_an.add_argument("--output", required=True, help="output dir")
    p_an.add_argument("--queries", nargs="*", default=None,
                      help=f"subset of {sorted(ANALYZE_QUERIES)} "
                           "(default: all)")
    p_str = sub.add_parser(
        "stream",
        help="Structured-Streaming drain (AvailableNow) of an input dir",
    )
    p_str.add_argument("--mode", required=True, choices=STREAM_MODES)
    p_str.add_argument("--input", required=True,
                       help="parquet DIRECTORY (readStream source)")
    p_str.add_argument("--output", required=True, help="output parquet dir")
    p_str.add_argument("--checkpoint", default=None,
                       help="stream checkpoint dir (default: "
                            "<output>/_checkpoint)")
    p_ing = sub.add_parser(
        "ingest",
        help="incremental ingest of a documents delta into a state dir: "
             "dedup indexes, KMV/HLL sketches, KG component labels, "
             "latest-per-url snapshot (runs triple extraction on the delta)",
    )
    p_ing.add_argument("--state", required=True,
                       help="persisted state dir (created on first ingest)")
    p_ing.add_argument("--delta", required=True,
                       help="documents parquet of the new crawl delta")
    p_ing.add_argument("--expire-keep", type=int, default=None,
                       help="after commit, retain only this many compacted "
                            "state versions (default: keep all)")
    p_ing.add_argument("--compact-appends", type=int, default=None,
                       metavar="MIN_DIRS",
                       help="after commit, rewrite any append log with at "
                            "least MIN_DIRS dirs into one (small-files "
                            "maintenance; superseded dirs are GC'd by "
                            "--expire-keep or a later expire)")
    args = top.parse_args(argv)
    fn = {"predict": cmd_predict, "resume": cmd_resume, "eval": cmd_eval,
          "featurize": cmd_featurize, "analyze": cmd_analyze,
          "ingest": cmd_ingest, "stream": cmd_stream}
    out = fn[args.cmd](args, spark=spark)
    print(json.dumps(out))
    return out


if __name__ == "__main__":  # pragma: no cover
    main(sys.argv[1:])
