"""spark-submit entry point (north_rule: "submitted via spark-submit
--py-files to multi-executor clusters").

Packaging + submission:

    python -m mhealth_spark.cli package --out /tmp/mhealth_spark.zip
    spark-submit --py-files /tmp/mhealth_spark.zip \\
        $(python -c 'import mhealth_spark.cli as c; print(c.__file__)') \\
        tokens-backfill --input iceberg:db.tokens --output /data/features \\
        --checkpoint-dir /data/ckpt --lookback-hours 24

In the sandbox (no cluster), the same commands run on local[N].
"""

from __future__ import annotations

import argparse
import sys
import tempfile
import os


def _build_zip(out: str | None = None) -> str:
    from mhealth_spark.session import build_package_zip

    path = out or os.path.join(tempfile.gettempdir(), "mhealth_spark.zip")
    if not path.endswith(".zip"):
        path += ".zip"
    build_package_zip(path)
    return path


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="mhealth_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_pkg = sub.add_parser("package", help="build the --py-files zip")
    p_pkg.add_argument("--out", default=None)

    def add_io(p):
        p.add_argument("--input", required=True, help="parquet path or iceberg:<table>")
        p.add_argument("--output", required=True)
        p.add_argument("--checkpoint-dir", default=None)
        p.add_argument("--entity-col", default="source")
        p.add_argument("--partitions", type=int, default=None)
        p.add_argument("--master", default=None)

    p_bf = sub.add_parser("tokens-backfill", help="as-of backfill features")
    add_io(p_bf)
    p_bf.add_argument("--lookback-hours", type=float, default=24.0)

    p_ts = sub.add_parser(
        "tokens-training-set",
        help="leakage-clean training rows: multi-horizon features + labels",
    )
    add_io(p_ts)
    p_ts.add_argument("--horizon-hours", type=int, default=24)

    p_rf = sub.add_parser("tokens-row-features", help="lag/lead/rolling features")
    add_io(p_rf)

    p_daily = sub.add_parser("hk-daily", help="HealthKit daily feature table")
    add_io(p_daily)

    p_dd = sub.add_parser("corpus-dedup", help="MinHash-LSH near-dup candidate pairs")
    add_io(p_dd)
    p_dd.add_argument("--num-hashes", type=int, default=8)
    p_dd.add_argument("--band-size", type=int, default=2)

    p_lay = sub.add_parser(
        "layout",
        help="ingest: persist the entity-bucketed sorted layout "
        "(windows/as-of passes over it then plan with zero Exchange)",
    )
    p_lay.add_argument("--input", required=True, help="parquet path or iceberg:<table>")
    p_lay.add_argument("--table", required=True, help="target catalog table name")
    p_lay.add_argument("--entity-col", default="writer_id")
    p_lay.add_argument("--ts-col", default="ts")
    p_lay.add_argument("--tiebreak-col", default="doc_id")
    p_lay.add_argument("--buckets", type=int, default=64)
    p_lay.add_argument("--master", default=None)
    p_lay.add_argument("--partitions", type=int, default=None)

    p_decon = sub.add_parser(
        "corpus-decontaminate",
        help="drop corpus docs sharing n-gram shingles with a benchmark set",
    )
    add_io(p_decon)
    p_decon.add_argument("--benchmark", required=True,
                         help="parquet path or iceberg:<table> of the eval set")
    p_decon.add_argument("--ngram", type=int, default=5)
    p_decon.add_argument("--max-hits", type=int, default=0)

    p_pack = sub.add_parser("corpus-pack", help="token-budget sequence packing")
    add_io(p_pack)
    p_pack.add_argument("--budget", type=int, default=2048)
    p_pack.add_argument("--greedy", action="store_true",
                        help="first-fit greedy kernel instead of window chunking")

    p_split = sub.add_parser(
        "corpus-split", help="deterministic hash train/val/test labels"
    )
    add_io(p_split)
    p_split.add_argument("--weights", default="train=0.9,val=0.05,test=0.05",
                         help="name=frac[,name=frac...] — last absorbs rounding")
    p_split.add_argument("--salt", default="split0")

    p_shard = sub.add_parser(
        "corpus-shard",
        help="deterministic global shuffle into training shards "
        "(output partitioned by shard_id, rows ordered by shard_pos)",
    )
    add_io(p_shard)
    p_shard.add_argument("--shards", type=int, default=1024)
    p_shard.add_argument("--salt", default="shard0")

    p_mix = sub.add_parser(
        "corpus-mix",
        help="temperature-rebalanced sampling (per-source rates from "
        "token totals) or explicit per-source token budgets",
    )
    add_io(p_mix)
    p_mix.add_argument("--alpha", type=float, default=0.7,
                       help="temperature exponent (1.0 = natural mix)")
    p_mix.add_argument("--target-tokens", type=float, default=None)
    p_mix.add_argument("--budgets", default=None,
                       help="source=tokens[,source=tokens...] — switches to "
                       "budget-fill mixing instead of temperature sampling")

    p_q = sub.add_parser(
        "corpus-quality",
        help="Gopher-family quality filter: annotate keep/reasons, or "
        "--drop to emit only the surviving documents",
    )
    add_io(p_q)
    p_q.add_argument("--drop", action="store_true",
                     help="emit only keep==true docs (full columns) instead "
                     "of the (doc_id, keep, reasons) annotation table")

    p_build = sub.add_parser(
        "corpus-build",
        help="end-to-end corpus build: quality filter -> decontaminate -> "
        "exact dedup -> fuzzy dedup -> temperature sample -> split; "
        "prints the per-stage audit counts",
    )
    add_io(p_build)
    p_build.add_argument("--benchmark", default=None,
                         help="eval-set table to decontaminate against")
    p_build.add_argument("--alpha", type=float, default=None,
                         help="temperature sampling exponent (omit to skip)")
    p_build.add_argument("--weights", default=None,
                         help="split weights name=frac[,...] (omit to skip)")

    args = parser.parse_args(argv)

    if args.cmd == "package":
        print(_build_zip(args.out))
        return 0

    from pyspark.sql import functions as F  # noqa: F401

    from mhealth_spark.session import get_spark
    from mhealth_spark.source import read_table

    spark = get_spark(f"mhealth_spark-{args.cmd}", master=args.master,
                      shuffle_partitions=args.partitions)
    df = read_table(spark, args.input)

    if args.cmd == "layout":
        from mhealth_spark.source import write_bucketed_layout

        write_bucketed_layout(
            df,
            args.table,
            buckets=args.buckets,
            entity_col=args.entity_col,
            ts_col=args.ts_col,
            tiebreak_col=args.tiebreak_col,
        )
        print(f"layout written: {args.table} ({args.buckets} buckets)")
        spark.stop()
        return 0

    if args.cmd == "tokens-backfill":
        from mhealth_spark.tokens_engine import backfill_features, hourly_requests

        out = backfill_features(
            df,
            hourly_requests(df, args.entity_col),
            entity_col=args.entity_col,
            lookback_hours=args.lookback_hours,
        )
    elif args.cmd == "tokens-training-set":
        from mhealth_spark.tokens_engine import training_set

        out = training_set(
            df, entity_col=args.entity_col, horizon_hours=args.horizon_hours
        )
    elif args.cmd == "tokens-row-features":
        from mhealth_spark.tokens_engine import row_features

        out = row_features(df, entity_col=args.entity_col)
    elif args.cmd == "hk-daily":
        from mhealth_spark.features import collect_all_daily_features

        out = collect_all_daily_features(df)
    elif args.cmd == "corpus-dedup":
        from mhealth_spark.pipelines.dedup import minhash_lsh_candidates

        out = minhash_lsh_candidates(
            df, num_hashes=args.num_hashes, band_size=args.band_size
        )
    elif args.cmd == "corpus-decontaminate":
        from mhealth_spark.pipelines.corpus import decontaminate

        out = decontaminate(
            df,
            read_table(spark, args.benchmark),
            n=args.ngram,
            max_hits=args.max_hits,
        )
    elif args.cmd == "corpus-pack":
        from mhealth_spark.pipelines.corpus import (
            pack_sequences_chunked,
            pack_sequences_greedy,
        )

        pack = pack_sequences_greedy if args.greedy else pack_sequences_chunked
        out = pack(df, budget=args.budget, entity_col=args.entity_col)
    elif args.cmd == "corpus-split":
        from mhealth_spark.pipelines.corpus import split_corpus

        weights = {}
        for part in args.weights.split(","):
            name, frac = part.split("=")
            weights[name] = float(frac)
        out = split_corpus(df, weights, salt=args.salt)
    elif args.cmd == "corpus-shard":
        from mhealth_spark.pipelines.corpus import shard_assign

        out = shard_assign(df, n_shards=args.shards, salt=args.salt)
    elif args.cmd == "corpus-mix":
        from mhealth_spark.pipelines.corpus import (
            mix_by_budget,
            sample_corpus,
            temperature_rates,
        )

        if args.budgets:
            budgets = {}
            for part in args.budgets.split(","):
                name, b = part.split("=")
                budgets[name] = int(b)
            out = mix_by_budget(df, budgets=budgets)
        else:
            rates = temperature_rates(
                df, alpha=args.alpha, target_tokens=args.target_tokens
            )
            out = sample_corpus(
                df, rate=0.0, strata_col="source", strata_rates=rates
            )
    elif args.cmd == "corpus-quality":
        from mhealth_spark.pipelines.text import quality_filter

        flags = quality_filter(df)
        if args.drop:
            keep_ids = flags.filter("keep").select("doc_id")
            out = df.join(keep_ids, "doc_id", "left_semi")
        else:
            out = flags
    elif args.cmd == "corpus-build":
        from mhealth_spark.pipelines.corpus import build_corpus

        weights = None
        if args.weights:
            weights = {}
            for part in args.weights.split(","):
                name, frac = part.split("=")
                weights[name] = float(frac)
        bench = read_table(spark, args.benchmark) if args.benchmark else None
        out, audit = build_corpus(
            df, benchmark=bench, sample_alpha=args.alpha, split_weights=weights
        )
        print(audit)
    else:  # pragma: no cover
        raise SystemExit(f"unknown cmd {args.cmd}")

    if args.checkpoint_dir:
        from mhealth_spark.checkpoint import checkpointed_write

        stats = checkpointed_write(
            out, args.output, entity_col=args.entity_col,
            num_partitions=args.partitions or 16,
        )
        print(stats)
    else:
        from mhealth_spark.source import write_table

        write_table(out, args.output)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
