"""spark-submit entry point for the record-linkage pipeline.

North-rule surface: "runs via spark-submit --py-files on multi-executor
clusters".  Package the library with ``scripts/make_pyfiles_zip.sh`` (or
any zip of entity_linking_spark/) and submit:

    spark-submit --master local[32] \
        --py-files /tmp/entity_linking_spark.zip \
        -- entity_linking_spark/cli.py link \
        --pages /data/pages --mentions /data/mentions \
        --entities /data/entities --workdir /data/work

On a real cluster, swap --master and add executor confs; the pipeline
itself (plans/pipeline.py) is master-agnostic.  Mirrors the reference's
CLI entrypoints (reference src/transform_zeshel.py:87-107,
src/compute_embeddings.py:17-42, src/eval_zeshel.py:8-23) collapsed into
one orchestrated, resumable job.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="entity-linking-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    link = sub.add_parser("link", help="run (or resume) the full linkage pipeline")
    link.add_argument("--pages", required=True, help="parquet dir: url,warc_ts,html,text,lang")
    link.add_argument("--mentions", required=True, help="parquet dir: mention_id,url,entity_id,surface,start_index,end_index")
    link.add_argument("--entities", required=True, help="parquet dir: entity_id,title,text")
    link.add_argument("--workdir", required=True, help="stage-table catalog root (checkpoint/resume)")
    link.add_argument("--labeled-pairs", default=None, help="optional parquet of labeled mention pairs for F1")
    link.add_argument("--no-resume", action="store_true", help="recompute every stage")
    link.add_argument("--context-size", type=int, default=32)
    link.add_argument("--threshold", type=float, default=0.75)
    link.add_argument("--no-strict-extract", action="store_true",
                      help="skip the byte-identical extraction gate")

    gen = sub.add_parser("generate-fixture", help="write a deterministic synthetic corpus")
    gen.add_argument("--out", required=True)
    gen.add_argument("--pages", type=int, default=3000)
    gen.add_argument("--entities", type=int, default=300)
    gen.add_argument("--seed", type=int, default=42)

    ins = sub.add_parser(
        "inspect",
        help="inspect a stage catalog: stages, snapshot ids, row counts, "
             "per-data-file lineage (reference inspect_checkpoint.py analogue)",
    )
    ins.add_argument("--workdir", required=True, help="catalog root")
    ins.add_argument("--stage", default=None,
                     help="also print this stage's per-data-file lineage metrics")

    rep = sub.add_parser(
        "report",
        help="render the retrieval-rate table (reference generate_plots.py analogue)",
    )
    rep.add_argument(
        "--scored", required=True,
        help="parquet of scored candidates: mention_id,entity_id,true_entity_id,score",
    )
    rep.add_argument("--out", default="-", help="output .md path ('-' = stdout)")
    rep.add_argument("--ks", default="1,4,8,16,32,64",
                     help="comma-separated k values")

    ing = sub.add_parser(
        "dedup-ingest",
        help="stream documents through the incremental near-dup filter: "
             "self-dedup each micro-batch, drop near-dups of the kept "
             "corpus, grow the corpus + its signature stage by the novel "
             "docs (streaming/dedup_stream.py; resumable, replay-safe)",
    )
    ing.add_argument("--docs", required=True,
                     help="parquet dir to stream (id, text); new files are new increments")
    ing.add_argument("--workdir", required=True, help="stage-table catalog root")
    ing.add_argument("--checkpoint", required=True, help="stream checkpoint dir")
    ing.add_argument("--id-col", default="id")
    ing.add_argument("--text-col", default="text")
    ing.add_argument("--threshold", type=float, default=0.7)
    ing.add_argument("--shingle-k", type=int, default=3)

    cln = sub.add_parser(
        "clean",
        help="run the full corpus-cleaning composition (url/exact/near "
             "dedup, boilerplate strip, decontamination, quality + PII; "
             "plans/corpus_clean.py) and write survivors + the attrition "
             "report",
    )
    cln.add_argument("--docs", required=True,
                     help="input parquet (id, text[, url]) — or a WARC "
                          "glob with --warc")
    cln.add_argument("--warc", action="store_true",
                     help="treat --docs as a .warc/.warc.gz glob: response "
                          "records become the corpus (sources/warc.py)")
    cln.add_argument("--out", required=True, help="output parquet dir")
    cln.add_argument("--benchmark",
                     help="held-out eval parquet (id, text) for decontamination")
    cln.add_argument("--id-col", default="id")
    cln.add_argument("--text-col", default="text")
    cln.add_argument("--url-col", default="url",
                     help="'' to skip URL dedup")
    cln.add_argument("--threshold", type=float, default=0.8,
                     help="near-dup MinHash Jaccard threshold")
    cln.add_argument("--min-tokens", type=int, default=10)
    cln.add_argument("--report-mode", choices=["eager", "silent"],
                     default="eager")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.cmd == "inspect":
        # manifest + metrics are driver-readable artifacts (JSON +
        # parquet) — no SparkSession needed, mirroring the reference's
        # standalone inspect_checkpoint.py dev tool
        import os

        manifest_path = os.path.join(args.workdir, "_manifest.json")
        manifest = {}
        if os.path.exists(manifest_path):
            with open(manifest_path) as f:
                manifest = json.load(f)
        out = {"workdir": args.workdir, "stages": manifest}
        if args.stage:
            import pandas as pd

            mdir = os.path.join(args.workdir, "_metrics", args.stage)
            if os.path.isdir(mdir):
                pdf = pd.read_parquet(mdir).sort_values("partition_id")
                out["lineage"] = pdf.to_dict(orient="records")
            else:
                out["lineage"] = None
        print(json.dumps(out, indent=2, sort_keys=True, default=str))
        return 0

    # Import inside main so spark-submit ships the zip before first use.
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName(f"el-{args.cmd}").getOrCreate()

    if args.cmd == "generate-fixture":
        from entity_linking_spark.fixtures import fixture_dataframes, generate_fixture

        fx = generate_fixture(num_pages=args.pages, num_entities=args.entities, seed=args.seed)
        pg, me, en, lp = fixture_dataframes(spark, fx)
        for name, df in [("pages", pg), ("mentions", me), ("entities", en),
                         ("labeled_pairs", lp)]:
            df.write.mode("overwrite").parquet(f"{args.out}/{name}")
        print(json.dumps({"out": args.out, "pages": args.pages, "entities": args.entities}))
        return 0

    if args.cmd == "report":
        from entity_linking_spark.operators.topk import retrieval_rates
        from entity_linking_spark.report import rates_from_row, render_retrieval_report

        ks = tuple(int(k) for k in args.ks.split(","))
        row = retrieval_rates(spark.read.parquet(args.scored), ks=ks).first()
        text = render_retrieval_report(rates_from_row(row))
        if args.out == "-":
            print(text)
        else:
            with open(args.out, "w") as f:
                f.write(text)
            print(json.dumps({"out": args.out, "ks": list(ks)}))
        return 0

    if args.cmd == "dedup-ingest":
        from entity_linking_spark.sources.catalog import Catalog
        from entity_linking_spark.streaming.dedup_stream import run_dedup_ingest

        cat = Catalog(spark, args.workdir)
        schema = spark.read.parquet(args.docs).schema
        stream = spark.readStream.schema(schema).parquet(args.docs)
        run_dedup_ingest(
            stream, cat, args.checkpoint,
            id_col=args.id_col, text_col=args.text_col,
            threshold=args.threshold, shingle_k=args.shingle_k,
        )
        print(json.dumps({
            "kept_docs": cat.manifest_entry("kept_docs").get("rows", 0),
            "corpus_sigs": cat.manifest_entry("corpus_sigs").get("rows", 0),
        }))
        return 0

    if args.cmd == "clean":
        from entity_linking_spark.operators._cache import cache_scope
        from entity_linking_spark.plans.corpus_clean import (
            CleanConfig, clean_corpus,
        )

        if args.warc:
            from entity_linking_spark.sources.warc import (
                docs_from_response_records, read_warc_records,
            )

            docs = docs_from_response_records(
                read_warc_records(spark, args.docs)
            )
        else:
            docs = spark.read.parquet(args.docs)
        bench = spark.read.parquet(args.benchmark) if args.benchmark else None
        cfg = CleanConfig(
            url_col=args.url_col or None,
            id_col=args.id_col, text_col=args.text_col,
            near_dup_threshold=args.threshold,
            min_tokens=args.min_tokens,
            report_mode=args.report_mode,
        )
        with cache_scope():
            out, report = clean_corpus(docs, bench, cfg)
            out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"out": args.out, "report": report}))
        return 0

    from entity_linking_spark.operators.scoring import ScoringConfig
    from entity_linking_spark.plans.pipeline import PipelineConfig, link_entities

    pages = spark.read.parquet(args.pages)
    mentions = spark.read.parquet(args.mentions)
    entities = spark.read.parquet(args.entities)
    labeled = spark.read.parquet(args.labeled_pairs) if args.labeled_pairs else None

    cfg = PipelineConfig(
        workdir=args.workdir,
        context_size=args.context_size,
        scoring=ScoringConfig(threshold=args.threshold),
        strict_extract=not args.no_strict_extract,
    )
    res = link_entities(spark, pages, mentions, entities, cfg,
                        resume=not args.no_resume, labeled_pairs=labeled)
    m = res["metrics"]
    out = {
        "clusters": res["clusters"].count(),
        "blocking_recall": m["blocking_recall"],
        "pairwise_f1": m["contingency"].f1,
        "retrieval": m["retrieval"],
    }
    if "labeled" in m:
        out["labeled_f1"] = m["labeled"].f1
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    # spark-submit ships the package via --py-files; when run as a plain
    # script make the repo root importable so the driver side works too
    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
