#!/usr/bin/env python
"""`ofst` — the reference CLI (fst_cmd.cpp:36-110), Spark-backed.

Same subcommand surface and option names as the C++ tool, so a user of
the reference can switch invocations one-for-one:

    ofst map    -f dict.txt -o idx_dir   [-c MB] [-l shards] [-t threads]
    ofst set    -f keys.txt -o idx_dir   [...same...]
    ofst dot    -f idx_dir  -o out.dot
    ofst match  -f idx_dir  -q key   [-s GT | -a GE] [-e LT | -b LE]
    ofst prefix -f idx_dir  -p pre   [bounds as above]
    ofst range  -f idx_dir           [bounds as above]
    ofst fuzzy  -f idx_dir  -z str -d k [-l prefix_len] [-m]

Artifact formats (both supported):
  - an `-o` path ending in `.fst` writes/reads the REFERENCE's binary
    single-file FST format byte-for-byte (sources/fst_file.py:
    fst.cpp:33-121 write side, fst.cpp:221-284 mount side) — existing
    reference-built artifacts mount directly, and artifacts built here
    load in the reference CLI;
  - any other `-o` path is the Spark-native sharded-DAG parquet
    artifact (operators/index.py) — the scale path (shard pruning,
    executor-side LRU).  Query commands auto-detect which kind `-f`
    points at (file = binary fst, directory = parquet index).

Differences, by design (engine semantics, not surface):
  - -t/--thread-count sizes the local Spark session (on a cluster, run
    through spark-submit and the submitted master wins);
  - -l/--split-file-count maps to the index shard count (the analog of
    the sorter's split fan-out); -w/-s/-p are accepted for drop-in
    compatibility and ignored (Spark plans its own sort/merge).

Input format matches the reference: one entry per line; `map` parses
`key,value` on the FIRST comma (fst_cmd.cpp:144-163), `set` takes the
whole line as the key; blank lines are skipped.  Results print one per
line: `key` (set mode) or `key,value` (map mode), in key order.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spark(threads: int):
    import __spark_entry__ as entrymod

    from orchid_fst_spark.session import get_spark

    spark = get_spark(
        app_name="ofst_cli", cores=threads, shuffle_partitions=max(threads * 2, 4)
    )
    # foreign-cwd safety: ship the package to python workers (addPyFile)
    entrymod._ship_package(spark)
    return spark


def _bounds_filter(df, args):
    from pyspark.sql import functions as F

    if getattr(args, "greater_than", None):
        df = df.filter(F.col("key") > args.greater_than)
    if getattr(args, "greater_equal_than", None):
        df = df.filter(F.col("key") >= args.greater_equal_than)
    if getattr(args, "less_than", None):
        df = df.filter(F.col("key") < args.less_than)
    if getattr(args, "less_equal_than", None):
        df = df.filter(F.col("key") <= args.less_equal_than)
    return df


def _emit(df, out=None) -> int:
    """Print results one per line (stdout), then the reference's
    per-query timing summary (fst_cmd.cpp:225-239 match, :284-301
    prefix, :345-362 range, :370-387 fuzzy — the reference emits it
    through TLOG, so it rides the log stream here too: stderr, keeping
    stdout byte-parseable as pure results)."""
    import time

    out = out if out is not None else sys.stdout  # resolve at call time
    st = time.perf_counter_ns()
    rows = df.orderBy("key").collect()
    us = (time.perf_counter_ns() - st) // 1000
    for r in rows:
        if "value" in df.columns and r.value is not None:
            print(f"{r.key},{r.value}", file=out)
        else:
            print(r.key, file=out)
    if rows:
        print(
            f"Totally got [{len(rows)}] results, time consumed:[{us}] us.",
            file=sys.stderr,
        )
    else:
        print(
            f"Can not found any key in dictionary! time consumed:[{us}] us.",
            file=sys.stderr,
        )
    return len(rows)


def _add_bounds(p: argparse.ArgumentParser) -> None:
    p.add_argument("-s", "--greater-than", default=None)
    p.add_argument("-a", "--greater-equal-than", default=None)
    p.add_argument("-e", "--less-than", default=None)
    p.add_argument("-b", "--less-equal-than", default=None)


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="ofst", description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    for name in ("map", "set"):
        p = sub.add_parser(name)
        p.add_argument("-f", "--dict-file", required=True)
        p.add_argument("-o", "--fst-file", required=True, help="output index directory")
        p.add_argument("-c", "--cache-size", type=int, default=1000, help="minimization node-map budget, MB")
        p.add_argument("-t", "--thread-count", type=int, default=4)
        p.add_argument("-l", "--split-file-count", type=int, default=8, help="index shard count")
        p.add_argument("-w", "--work-directory", default="/tmp")  # compat, unused
        p.add_argument("-p", "--parallel-task-count", type=int, default=3)  # compat
        p.add_argument("--sorted", action="store_true")  # compat

    p = sub.add_parser("dot")
    p.add_argument("-f", "--fst-file", required=True)
    p.add_argument("-o", "--dot-file", required=True)
    p.add_argument("-t", "--thread-count", type=int, default=4)

    p = sub.add_parser("match")
    p.add_argument("-f", "--fst-file", required=True)
    p.add_argument("-q", "--match-str", required=True)
    p.add_argument("-t", "--thread-count", type=int, default=4)
    _add_bounds(p)

    p = sub.add_parser("prefix")
    p.add_argument("-f", "--fst-file", required=True)
    p.add_argument("-p", "--prefix-str", required=True)
    p.add_argument("-t", "--thread-count", type=int, default=4)
    _add_bounds(p)

    p = sub.add_parser("range")
    p.add_argument("-f", "--fst-file", required=True)
    p.add_argument("-t", "--thread-count", type=int, default=4)
    _add_bounds(p)

    p = sub.add_parser("fuzzy")
    p.add_argument("-f", "--fst-file", required=True)
    p.add_argument("-z", "--fuzzy-str", required=True)
    p.add_argument("-d", "--distance", type=int, required=True)
    p.add_argument("-l", "--prefix-len", type=int, default=0)
    p.add_argument("-m", "--damerau-levenshtein", action="store_true")
    p.add_argument("-t", "--thread-count", type=int, default=4)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    spark = _spark(getattr(args, "thread_count", 4))

    from pyspark.sql import functions as F

    from orchid_fst_spark.operators.dictionary import build_dict
    from orchid_fst_spark.operators.index import (
        build_index,
        index_fuzzy_lookup,
        index_match_lookup,
        index_prefix_lookup,
        index_range_lookup,
        load_index,
    )

    if args.cmd in ("map", "set"):
        lines = spark.read.text(args.dict_file).withColumnRenamed("value", "line")
        lines = lines.filter(F.length(F.trim("line")) > 0)
        if args.cmd == "map":
            # split on the FIRST comma (fst_cmd.cpp:144-163); a line with
            # no comma gets value 0 like the reference's stringstream.
            # Duplicate keys: LAST occurrence in file order wins, exactly
            # like FstBuilder::Insert's in-place update (fst.cpp:180-189)
            # — monotonically_increasing_id over a single text file is
            # monotone with byte offset (splits of one file are packed in
            # offset order), giving the line id the last-wins agg needs.
            kv = lines.withColumn("_line_id", F.monotonically_increasing_id())
            kv = kv.select(
                F.regexp_extract("line", r"^([^,]*)", 1).alias("key"),
                F.coalesce(
                    F.regexp_extract("line", r"^[^,]*,(.*)$", 1).cast("long"),
                    F.lit(0),
                ).alias("value"),
                "_line_id",
            )
            d = build_dict(kv, "key", "value", dedup="last", order_col="_line_id")
        else:
            d = build_dict(lines.select(F.col("line").alias("key")), "key")
        if args.fst_file.endswith(".fst"):
            from orchid_fst_spark.sources.fst_file import df_to_fst_file

            df_to_fst_file(d, args.fst_file)
            n = d.count()
            print(f"built reference fst file: {n} keys -> {args.fst_file}")
            return 0
        build_index(
            d,
            args.fst_file,
            n_shards=args.split_file_count,
            cache_budget_bytes=args.cache_size * 1_000_000,
        )
        n = load_index(spark, args.fst_file).agg(F.sum("n_keys")).collect()[0][0]
        print(f"built index: {n} keys -> {args.fst_file}")
        return 0

    if os.path.isfile(args.fst_file):
        # reference binary artifact: mount it and serve with the live
        # dictionary operators (migration path — no conversion needed)
        from orchid_fst_spark.operators.dictionary import (
            fuzzy_lookup,
            match_lookup,
            prefix_lookup,
            range_lookup,
        )
        from orchid_fst_spark.sources.fst_file import fst_file_to_df

        mounted = fst_file_to_df(spark, args.fst_file)
        if args.cmd == "dot":
            from orchid_fst_spark.automata.trie import Trie, minimize, to_dot

            # map-mode artifacts render with their values, exactly like
            # the parquet-index dot branch below (dropping them produced
            # a structurally different value-less DAG)
            has_vals = "value" in mounted.columns
            if has_vals:
                rows = sorted(
                    (r.key, r.value)
                    for r in mounted.select("key", "value").collect()
                )
                keys = [k for k, _ in rows]
                vals = [v for _, v in rows]
            else:
                keys = sorted(r.key for r in mounted.select("key").collect())
                vals = None
            root, flat, _n = minimize(Trie.from_sorted(keys, vals))
            with open(args.dot_file, "w") as f:
                f.write(to_dot(root, flat))
            print(f"wrote {args.dot_file}")
            return 0
        if args.cmd == "match":
            out = _bounds_filter(match_lookup(mounted, args.match_str), args)
        elif args.cmd == "prefix":
            out = _bounds_filter(prefix_lookup(mounted, args.prefix_str), args)
        elif args.cmd == "range":
            lo = args.greater_equal_than or args.greater_than
            hi = args.less_equal_than or args.less_than
            out = range_lookup(
                mounted,
                lo=lo,
                hi=hi,
                lo_inclusive=args.greater_equal_than is not None,
                hi_inclusive=args.less_equal_than is not None,
            )
        else:  # fuzzy
            out = fuzzy_lookup(
                mounted,
                args.fuzzy_str,
                args.distance,
                prefix_len=args.prefix_len,
                damerau=args.damerau_levenshtein,
            )
        n = _emit(out)
        return 0 if n > 0 else 1

    idx = load_index(spark, args.fst_file)
    if args.cmd == "dot":
        from orchid_fst_spark.automata.trie import to_dot
        from orchid_fst_spark.operators.index import _decode_blob

        rows = sorted(
            spark.read.parquet(args.fst_file).select("shard", "blob").collect()
        )
        with open(args.dot_file, "w") as f:
            for shard, blob in rows:
                root, flat, _hv = _decode_blob(bytes(blob), shard)
                f.write(f"// shard {shard}\n")
                f.write(to_dot(root, flat))
                f.write("\n")
        print(f"wrote {args.dot_file}")
        return 0
    if args.cmd == "match":
        out = _bounds_filter(index_match_lookup(idx, args.match_str), args)
    elif args.cmd == "prefix":
        out = _bounds_filter(index_prefix_lookup(idx, args.prefix_str), args)
    elif args.cmd == "range":
        # bounds go INTO the operator: shard pruning at the parquet scan
        # plus bound-aware DFS, not a post-filter over full enumeration
        lo = args.greater_equal_than or args.greater_than
        hi = args.less_equal_than or args.less_than
        out = index_range_lookup(
            idx,
            lo=lo,
            hi=hi,
            lo_inclusive=args.greater_equal_than is not None,
            hi_inclusive=args.less_equal_than is not None,
        )
    else:  # fuzzy
        out = index_fuzzy_lookup(
            idx,
            args.fuzzy_str,
            args.distance,
            damerau=args.damerau_levenshtein,
            prefix_len=args.prefix_len,
        )
    n = _emit(out)
    return 0 if n > 0 else 1  # reference exits 1 on no match


if __name__ == "__main__":
    sys.exit(main())
