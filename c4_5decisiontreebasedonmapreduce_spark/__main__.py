"""Command-line entry point — the reference's program invocation surface.

The reference runs as ``hadoop jar ... <InputPath> <OutputPath>
<AttPath> <TmpPath>`` (`Main.java:41-47`); a user switching engines
invokes a program, not a library. This CLI mirrors that surface on the
same native inputs (TSV training table + attributes side-file):

    python -m c4_5decisiontreebasedonmapreduce_spark train INPUT OUTPUT ATTRIBUTES [TMP]
    python -m c4_5decisiontreebasedonmapreduce_spark predict INPUT OUTPUT ATTRIBUTES --model M

``train`` writes the model (JSON + columnar parquet) under OUTPUT and
prints the decision list in the reference's wire format; the trailing
TMP positional is accepted-and-ignored so the reference's four-argument
invocation works verbatim (there is no per-level HDFS tmp round-trip to
point it at). With ``--bug-compat`` training runs the reference-as-built
path (quirks Q1-Q5, `operators/bug_compat.py`) and stdout ends with the
reference's exact closing block — blank line, banner, ``最终的规则为：``
and the indented rule lines (`Main.java:124-131`) — byte-for-byte.

``predict`` scores a TSV with a saved model and writes one prediction
per input row (parquet); when the label column is present it also
prints train-set accuracy — the evaluation step the reference never
had.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# the reference's closing stdout block (`Main.java:124-128`), printed
# before the model's rule lines in --bug-compat mode
_REFERENCE_CLOSING_BLOCK = [
    "",
    "****************************",
    "********* 程序结束！ *********",
    "****************************",
    "最终的规则为：",
]


def cli(argv: list[str] | None = None, spark=None) -> int:
    from c4_5decisiontreebasedonmapreduce_spark import get_spark
    from c4_5decisiontreebasedonmapreduce_spark.operators import tree as Tr
    from c4_5decisiontreebasedonmapreduce_spark.sources.tsv import (
        parse_attributes_file,
        read_training_tsv,
    )

    p = argparse.ArgumentParser(prog="c4_5decisiontreebasedonmapreduce_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    t = sub.add_parser(
        "train", help="grow the C4.5 decision list from a TSV table"
    )
    t.add_argument("input", help="training TSV (reference native format)")
    t.add_argument("output", help="directory for model.json / model_parquet")
    t.add_argument("attributes", help="attributes side-file")
    t.add_argument(
        "tmp", nargs="?", default=None,
        help="ignored (the reference's per-level HDFS tmp path)",
    )
    t.add_argument("--max-depth", type=int, default=8)
    t.add_argument("--min-ratio", type=float, default=0.1)
    t.add_argument(
        "--bug-compat", action="store_true",
        help="reproduce the reference AS BUILT (quirks Q1-Q5) and print "
        "its exact closing stdout block",
    )
    t.add_argument(
        "--prune", action="store_true",
        help="follow growth with C4.5 error-based pruning (CF 0.25) — "
        "the post-pass the reference omits",
    )
    pr = sub.add_parser("predict", help="score a TSV with a saved model")
    pr.add_argument("input")
    pr.add_argument("output", help="directory for predictions parquet")
    pr.add_argument("attributes")
    pr.add_argument("--model", required=True, help="model.json from train")
    cu = sub.add_parser(
        "curate",
        help="pre-training data prep: PII scrub → exact dedup → quality "
        "gate → packing manifest (add --decontaminate for the benchmark "
        "eval-leak scrub in the chain)",
    )
    cu.add_argument(
        "input", help="directory containing documents.parquet"
    )
    cu.add_argument(
        "output", help="directory for manifest/ (and report/) parquet"
    )
    cu.add_argument(
        "--decontaminate", action="store_true",
        help="compose the shingle-containment benchmark scrub into the "
        "chain (pipeline_pretraining_decontam)",
    )
    cu.add_argument(
        "--report", action="store_true",
        help="also write the per-source corpus-health report",
    )
    cu.add_argument(
        "--tokenizer",
        choices=("whitespace", "bpe", "unigram"),
        default="whitespace",
        help="unit the packing manifest counts: the shared whitespace "
        "convention, released-tokenizer BPE symbols "
        "(data/bpe_merges.tsv), or released unigram-LM pieces "
        "(data/unigram_vocab.tsv) — what a trainer with that tokenizer "
        "actually consumes",
    )
    args = p.parse_args(argv)

    own_session = spark is None
    if own_session:
        spark = get_spark(app_name="c45-cli")
    try:
        if args.cmd == "curate":
            from c4_5decisiontreebasedonmapreduce_spark.operators import (
                pipeline as PL,
            )

            kwargs = {}
            if args.tokenizer == "bpe":
                from c4_5decisiontreebasedonmapreduce_spark.operators.bpe import (
                    bpe_symbol_count_col,
                )
                from pyspark.sql import functions as F

                kwargs["window_tokens"] = bpe_symbol_count_col(F.col("text"))
            elif args.tokenizer == "unigram":
                kwargs["unigram_counts"] = True
            if args.decontaminate:
                manifest = PL.pretraining_decontam_pipeline(
                    spark, args.input, **kwargs
                )
            elif args.tokenizer == "bpe":
                manifest = PL.pretraining_pipeline_bpe(spark, args.input)
            elif args.tokenizer == "unigram":
                manifest = PL.pretraining_pipeline_unigram(spark, args.input)
            else:
                manifest = PL.pretraining_pipeline(spark, args.input)
            os.makedirs(args.output, exist_ok=True)
            manifest_path = os.path.join(args.output, "manifest")
            manifest.write.mode("overwrite").parquet(manifest_path)
            if args.report:
                PL.corpus_report(spark, args.input).write.mode(
                    "overwrite"
                ).parquet(os.path.join(args.output, "report"))
            # summarize from the just-written parquet — collect() on the
            # lazy manifest would re-run the whole pipeline a second time
            rows = spark.read.parquet(manifest_path).collect()
            print(
                json.dumps(
                    {
                        "shards": len(rows),
                        "n_docs": sum(r.n_docs for r in rows),
                        "n_tokens": sum(r.n_tokens for r in rows),
                        "n_windows": sum(r.n_windows for r in rows),
                        "decontaminated": bool(args.decontaminate),
                        "tokenizer": args.tokenizer,
                    }
                )
            )
            return 0

        schema = parse_attributes_file(args.attributes)
        if args.cmd == "train":
            df = read_training_tsv(spark, args.input, schema)
            os.makedirs(args.output, exist_ok=True)
            if args.bug_compat:
                model = Tr.train(df, schema, bug_compat=True)
                lines = model.stdout_lines()
                with open(
                    os.path.join(args.output, "rules.txt"), "w"
                ) as f:
                    f.writelines(ln + "\n" for ln in lines)
                for ln in _REFERENCE_CLOSING_BLOCK:
                    print(ln)
                for ln in lines:
                    print(ln)
                return 0
            model = Tr.train(
                df,
                schema,
                max_depth=args.max_depth,
                min_ratio=args.min_ratio,
                prune=args.prune,
            )
            model.save(os.path.join(args.output, "model.json"))
            model.save_parquet(
                spark, os.path.join(args.output, "model_parquet")
            )
            attr_order = [a.name for a in schema.features]
            with open(os.path.join(args.output, "rules.txt"), "w") as f:
                f.writelines(
                    ln + "\n" for ln in model.to_reference_text(attr_order)
                )
            for ln in model.to_reference_text(attr_order):
                print(ln)
            return 0

        # predict
        model = Tr.DecisionListModel.load(args.model, schema.label)
        df = read_training_tsv(spark, args.input, schema)
        os.makedirs(args.output, exist_ok=True)
        pred_path = os.path.join(args.output, "predictions")
        model.transform(df).write.mode("overwrite").parquet(pred_path)
        # rows and accuracy in ONE aggregate over the just-written
        # parquet — counting and scoring the lazy frame would scan and
        # parse the TSV twice more
        from pyspark.sql import functions as F

        written = spark.read.parquet(pred_path)
        aggs = [F.count(F.lit(1)).alias("rows")]
        if schema.label in written.columns:
            hit = F.col("prediction") == F.col(schema.label)
            aggs.append(F.avg(hit.cast("double")).alias("accuracy"))
        print(json.dumps(written.agg(*aggs).first().asDict()))
        return 0
    finally:
        if own_session:
            spark.stop()


def main() -> None:
    sys.exit(cli())


if __name__ == "__main__":
    main()
