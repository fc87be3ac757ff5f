#!/usr/bin/env python
"""spark-submit entry point (SURVEY §7 M8).

Usage (ships the engine as a zip via --py-files — no install needed on
executors):

    python tools/build_pyfiles.py              # -> dist/fhirflat_spark.zip
    spark-submit --py-files dist/fhirflat_spark.zip driver.py \
        encode --rows 1000000 --out /data/encoded
    spark-submit --py-files dist/fhirflat_spark.zip driver.py \
        verify --out /data/encoded
    spark-submit --py-files dist/fhirflat_spark.zip driver.py \
        decode --out /data/encoded --show 5

In this sandbox ``spark-submit`` and plain ``python`` are equivalent
(local mode); on a cluster the same command line works unchanged because
all kernels live in the zip and the driver only orchestrates.
"""

from __future__ import annotations

import argparse
import json


def _parse_columns(spec: str | None) -> list[str] | None:
    """`--columns "lang, repo"` must tolerate whitespace around commas."""
    if not spec:
        return None
    return [c.strip() for c in spec.split(",") if c.strip()]


def _parse_where(spec: str | None) -> list | None:
    """`--where 'source=web,n_chars>=200'` → the encoded-exec where
    mini-language; comma = AND, `|` inside a term = OR
    (`'lang=en|n_chars<100,source=web'` ⇒ (lang=en OR n_chars<100) AND
    source=web). Integer literals auto-cast."""
    if not spec:
        return None
    import re

    def _pred(term: str) -> tuple:
        mm = re.fullmatch(r"\s*(\w+)\s*(<=|>=|<|>|=)\s*(.+?)\s*", term)
        if not mm:
            raise SystemExit(f"bad --where clause {term!r}")
        col, sym, lit = mm.groups()
        op = {"=": "eq", "<": "lt", "<=": "le", ">": "gt", ">=": "ge"}[sym]
        if len(lit) >= 2 and lit[0] == lit[-1] and lit[0] in "'\"":
            v = lit[1:-1]  # quoted = literal string, never auto-typed
        elif re.fullmatch(r"-?\d+", lit):
            v = int(lit)
        elif re.fullmatch(r"\d{4}-\d{2}-\d{2}", lit):
            import datetime

            v = datetime.date.fromisoformat(lit)
        elif re.fullmatch(r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}(:\d{2})?",
                          lit):
            import datetime

            v = datetime.datetime.fromisoformat(lit.replace(" ", "T"))
        else:
            v = lit
        return (col, op, v)

    where = []
    for clause in spec.split(","):
        branches = [_pred(t) for t in clause.split("|")]
        where.append(branches[0] if len(branches) == 1 else branches)
    return where


def main() -> None:
    p = argparse.ArgumentParser(description="fhirflat_spark driver")
    sub = p.add_subparsers(dest="cmd", required=True)

    enc = sub.add_parser("encode", help="generate/read source table and encode it")
    enc.add_argument("--rows", type=int, default=100_000, help="synthetic rows (ignored with --src)")
    enc.add_argument("--src", help="existing parquet table to encode instead of synthetic")
    enc.add_argument("--out", required=True)
    enc.add_argument("--rows-per-bucket", type=int, default=250_000)
    enc.add_argument("--resume", action="store_true")
    enc.add_argument("--profile", choices=["balanced", "archive"], default="balanced")
    enc.add_argument("--weight-col", dest="weight_col",
                     help="allocate buckets by this column's bytes, not "
                          "row counts (file-size-skew placement)")
    enc.add_argument("--shuffle", choices=["true", "false", "auto"], default="true",
                     help="auto = skip the exchange when input is already clustered")
    enc.add_argument("--bloom-columns", dest="bloom_columns",
                     help="comma-separated string columns to Bloom-index per chunk")
    enc.add_argument("--ndv-columns", dest="ndv_columns",
                     help="comma-separated string/int columns to HLL-sketch per chunk")
    enc.add_argument("--quantile-columns", dest="quantile_columns",
                     help="comma-separated numeric columns to DDSketch-sketch "
                          "per chunk (metadata-only approx percentiles)")

    app = sub.add_parser("append", help="incrementally append rows to an existing dataset")
    app.add_argument("--rows", type=int, default=100_000, help="synthetic rows (ignored with --src)")
    app.add_argument("--seed", type=int, default=43, help="datagen seed for synthetic append rows")
    app.add_argument("--src", help="existing parquet table to append instead of synthetic")
    app.add_argument("--out", required=True)
    app.add_argument("--rows-per-bucket", type=int, default=250_000)
    app.add_argument("--profile", choices=["balanced", "archive"], default="balanced")
    app.add_argument("--branch", metavar="NAME",
                     help="stage the append on a branch (WAP) instead of main")

    ver = sub.add_parser("verify", help="re-verify every chunk round-trips bit-identically")
    ver.add_argument("--out", required=True)
    ver.add_argument("--columns", help="comma-separated subset (per-column sha check)")

    dec = sub.add_parser("decode", help="decode and show rows")
    dec.add_argument("--out", required=True)
    dec.add_argument("--show", type=int, default=5)
    dec.add_argument("--columns", help="comma-separated subset (IO-pruned selective decode)")
    dec.add_argument("--snapshot",
                     help="time-travel to this snapshot version or tag name")
    dec.add_argument("--as-of", dest="as_of",
                     help="time-travel by wall clock: epoch seconds or "
                          "ISO-8601 (resolves to the snapshot current then)")

    dlt = sub.add_parser("delete", help="row-level delete by key equality "
                         "or predicate (no chunk rewrite)")
    dlt.add_argument("--out", required=True)
    dlt.add_argument("--column", help="key column (equality delete)")
    dlt.add_argument("--values",
                     help="comma-separated key values to delete")
    dlt.add_argument("--where", help="predicate DELETE instead: "
                     "'n_chars<200' — entailed partitions drop "
                     "metadata-only, straddlers get position deletes")
    dlt.add_argument("--dry-run", action="store_true")

    mnt = sub.add_parser("maintain", help="policy compaction + snapshot expiry + vacuum")
    mnt.add_argument("--out", required=True)
    mnt.add_argument("--rows-per-bucket", type=int, default=250_000)
    mnt.add_argument("--keep-snapshots", type=int, default=3)
    mnt.add_argument("--dry-run", action="store_true")
    mnt.add_argument("--order-by", dest="order_by", default=None,
                     help="sort-order rewrite when the policy compacts")
    mnt.add_argument("--zorder", action="store_true",
                     help="Morton-curve clustering over --order-by columns")
    mnt.add_argument("--expire-older-than", dest="expire_older_than",
                     metavar="TS", default=None,
                     help="only expire snapshots committed before TS "
                          "(ISO datetime or epoch seconds)")

    snp = sub.add_parser("snapshots", help="list/rollback/expire/vacuum snapshot history")
    snp.add_argument("--out", required=True)
    snp.add_argument("--rollback", type=int, metavar="V",
                     help="restore snapshot V as a new commit")
    snp.add_argument("--expire-keep", type=int, metavar="N",
                     help="drop all but the newest N snapshots")
    snp.add_argument("--expire-older-than", dest="expire_older_than",
                     metavar="TS",
                     help="with --expire-keep: only expire snapshots "
                          "committed before TS (ISO datetime or epoch "
                          "seconds); keep-N stays the retention floor")
    snp.add_argument("--tag", metavar="NAME",
                     help="tag a snapshot (default: current; use --at V)")
    snp.add_argument("--at", type=int, metavar="V",
                     help="snapshot version for --tag (default: current)")
    snp.add_argument("--drop-tag", metavar="NAME", dest="drop_tag")
    snp.add_argument("--publish", metavar="BRANCH", dest="publish_branch",
                     help="fast-forward main to a staged branch head")
    snp.add_argument("--drop-branch", metavar="BRANCH", dest="drop_branch",
                     help="discard a staged branch and its snapshots")
    snp.add_argument("--vacuum", action="store_true",
                     help="delete chunk partitions no retained snapshot references")

    trc = sub.add_parser("transcode", help="re-compress chunks without the raw table")
    trc.add_argument("--src", required=True)
    trc.add_argument("--out", required=True)
    trc.add_argument("--profile", choices=["balanced", "archive"], default="archive")

    cpt = sub.add_parser(
        "compact",
        help="clustering rewrite into a NEW directory (crash-safe; "
             "caller swaps after verifying) — --order-by makes it a "
             "sort-order rewrite that restores zone selectivity, "
             "--zorder interleaves the columns on the Morton curve",
    )
    cpt.add_argument("--src", required=True)
    cpt.add_argument("--out", required=True)
    cpt.add_argument("--rows-per-bucket", type=int, default=250_000)
    cpt.add_argument("--profile", choices=["balanced", "archive"],
                     default="balanced")
    cpt.add_argument("--order-by", dest="order_by", default=None,
                     help="comma-separated sort columns")
    cpt.add_argument("--zorder", action="store_true",
                     help="Morton-curve clustering over --order-by columns")

    bpk = sub.add_parser(
        "binpack",
        help="partial IN-PLACE compaction (Iceberg rewrite_data_files "
             "binpack): rewrite only the under-filled partitions as ONE "
             "snapshot commit — history preserved, IO proportional to "
             "the fragmented slice",
    )
    bpk.add_argument("--out", required=True)
    bpk.add_argument("--rows-per-bucket", type=int, default=250_000)
    bpk.add_argument("--min-fill", type=float, default=0.5,
                     help="rewrite partitions under this fill fraction")
    bpk.add_argument("--part-ids", default=None,
                     help="explicit comma-separated partition ids")
    bpk.add_argument("--order-by", dest="order_by", default=None,
                     help="sort the rewritten slice on these columns")
    bpk.add_argument("--dry-run", action="store_true")

    ddp = sub.add_parser("dedup", help="physical dedup via position deletes (no chunk rewrite)")
    ddp.add_argument("--out", required=True)
    ddp.add_argument("--key", required=True, help="comma-separated duplicate-group columns")
    ddp.add_argument("--order", help="comma-separated keeper-order columns (default: physical address)")

    upd = sub.add_parser("update", help="predicate UPDATE: rewrite "
                         "matching rows in one commit (zone-pruned scan)")
    upd.add_argument("--out", required=True)
    upd.add_argument("--where", required=True,
                     help="predicate, e.g. 'n_chars<200'")
    upd.add_argument("--set", required=True, action="append",
                     metavar="COL=EXPR",
                     help="column assignment (repeatable), e.g. "
                          "--set 'n_chars=n_chars+1000'")
    upd.add_argument("--rows-per-bucket", type=int, default=250_000)

    anl = sub.add_parser("analyze", help="backfill NDV/quantile sketch "
                         "metadata on legacy partitions (no chunk rewrite)")
    anl.add_argument("--out", required=True)
    anl.add_argument("--ndv", help="comma-separated columns to HLL-sketch")
    anl.add_argument("--quantile-columns",
                     help="comma-separated columns to DDSketch")

    sta = sub.add_parser("stats", help="metadata-only aggregates from the snapshot manifest (zero chunk IO)")
    sta.add_argument("--out", required=True)
    sta.add_argument("--columns", required=True,
                     help="comma-separated columns for count/min/max/sum")
    sta.add_argument("--ndv", help="comma-separated sketched columns for approx COUNT(DISTINCT)")
    sta.add_argument("--quantile",
                     help="col:q[,col:q...] approx percentiles from DDSketch "
                          "metadata (e.g. n_chars:0.5,n_chars:0.99)")
    sta.add_argument("--snapshot", help="version, tag, or branch (default: current)")
    sta.add_argument("--where", default=None,
                     help="filters (comma = AND, | = OR): tiered "
                          "COUNT/SUM — partitions whose rollups entail "
                          "the predicate answer from metadata (zero "
                          "chunk IO), only straddlers scan")

    chg = sub.add_parser("changes", help="net row-level changelog between two snapshots")
    chg.add_argument("--out", required=True)
    chg.add_argument("--from-snapshot", type=int, required=True, dest="from_v")
    chg.add_argument("--to-snapshot", type=int, required=True, dest="to_v")
    chg.add_argument("--show", type=int, default=10)

    rlp = sub.add_parser(
        "rollup", help="build/refresh a continuous time-bucket aggregate"
    )
    rlp.add_argument("--out", required=True, help="chunk-store table dir")
    rlp.add_argument("--dest", required=True, help="rollup state dir")
    rlp.add_argument("--ts-col", dest="ts_col", help="(build) time column")
    rlp.add_argument("--bucket", default="hour")
    rlp.add_argument("--group-cols", dest="group_cols", default="",
                     help="(build) comma-separated dimension columns")
    rlp.add_argument("--sum-cols", dest="sum_cols", default="",
                     help="(build) comma-separated measure columns")
    rlp.add_argument("--show", type=int, default=10)

    tix = sub.add_parser(
        "index", help="build/refresh an inverted token index (search "
        "without a scan)"
    )
    tix.add_argument("--out", required=True, help="chunk-store table dir")
    tix.add_argument("--dest", required=True, help="index state dir")
    tix.add_argument("--column", default="text", help="(build) text column")

    sch = sub.add_parser(
        "search", help="token search via the inverted index "
        "(posting-pruned decode + exact residual predicate)"
    )
    sch.add_argument("--out", required=True, help="chunk-store table dir")
    sch.add_argument("--dest", required=True, help="index state dir")
    sch.add_argument("--token", required=True,
                     help="token, or comma-separated tokens (AND search)")
    sch.add_argument("--columns", default="",
                     help="comma-separated output columns (default: all)")
    sch.add_argument("--show", type=int, default=10)

    vix = sub.add_parser(
        "vindex", help="build/refresh an IVF vector index (ANN search "
        "without a scan)"
    )
    vix.add_argument("--out", required=True, help="chunk-store table dir")
    vix.add_argument("--dest", required=True, help="index state dir")
    vix.add_argument("--column", default="embedding",
                     help="(build) vector column")
    vix.add_argument("--id-column", default="vec_id", help="(build) id column")
    vix.add_argument("--k", type=int, default=16,
                     help="(build) number of coarse cells")

    vse = sub.add_parser(
        "vsearch", help="ANN top-k via the IVF index (centroid probe → "
        "posting-pruned decode → exact cosine rescore)"
    )
    vse.add_argument("--out", required=True, help="chunk-store table dir")
    vse.add_argument("--dest", required=True, help="index state dir")
    vse.add_argument("--query-id", type=int, required=True,
                     help="vec_id of the query vector (looked up in the table)")
    vse.add_argument("--top-k", type=int, default=10)
    vse.add_argument("--nprobe", type=int, default=4)
    vse.add_argument("--show", type=int, default=10)

    gby = sub.add_parser(
        "groupby",
        help="encoded-domain GROUP BY: aggregate directly on compressed "
             "chunks (dict codes / RLE runs), no row materialization",
    )
    gby.add_argument("--out", required=True)
    gby.add_argument("--group", required=True,
                     help="group column (comma list = tuple GROUP BY)")
    gby.add_argument("--value", help="integral or string value column: "
                                     "adds count/sum/min/max, no sum on "
                                     "strings (default: count only)")
    gby.add_argument("--snapshot", default=None)
    gby.add_argument("--where", default=None,
                     help="filters: comma = AND, | inside a term = OR, "
                          "e.g. 'lang=en|lang=fr,n_chars>=200' "
                          "(ops = < <= > >=; int / YYYY-MM-DD[ HH:MM:SS] "
                          "literals auto-cast, quote to force string)")
    gby.add_argument("--show", type=int, default=20)
    tpk = sub.add_parser(
        "topk",
        help="global ORDER BY col LIMIT k with zone-threshold chunk "
             "pruning (metadata-derived prefilter; exact either way)",
    )
    tpk.add_argument("--out", required=True)
    tpk.add_argument("--order-col", dest="order_col", required=True)
    tpk.add_argument("--k", type=int, default=10)
    tpk.add_argument("--tiebreak", required=True,
                     help="deterministic tie-break column (asc)")
    tpk.add_argument("--asc", action="store_true",
                     help="ascending (default: descending; NULLs last)")
    tpk.add_argument("--columns", default="",
                     help="comma-separated output projection")
    tpk.add_argument("--snapshot", default=None)
    tpk.add_argument("--where", default=None,
                     help="filters (comma = AND, | = OR), e.g. "
                          "'source=web,n_chars>=200' (= < <= > >=; int "
                          "literals auto-cast); applied exactly, and "
                          "threshold pruning only counts provably-"
                          "matching chunks")
    app = sub.add_parser(
        "apply",
        help="single-commit CDC MERGE: a parquet batch with an op "
             "column (insert/update/upsert/I/U = write image, delete/D "
             "= remove key) lands atomically",
    )
    app.add_argument("--out", required=True)
    app.add_argument("--src", required=True, help="parquet change batch")
    app.add_argument("--key-column", dest="key_column", required=True)
    app.add_argument("--op-column", dest="op_column", default="_op")
    app.add_argument("--rows-per-bucket", type=int, default=250_000)
    rpl = sub.add_parser(
        "replicate", help="advance a mirror table to the source's "
        "current snapshot (changelog-applied; full sync on first call "
        "or after a source history reset)"
    )
    rpl.add_argument("--out", required=True, help="source chunk-store dir")
    rpl.add_argument("--dest", required=True, help="mirror table dir")
    rpl.add_argument("--key-column", dest="key_column", required=True,
                     help="unique row key (upsert_rows contract)")
    rpl.add_argument("--rows-per-bucket", type=int, default=250_000)
    rpl.add_argument("--where", default=None,
                     help="SQL predicate — mirror only matching rows "
                     "(incremental materialized view)")
    rpl.add_argument("--columns", default="",
                     help="comma-separated projection (must keep the key)")

    args = p.parse_args()

    from fhirflat_spark.session import get_spark

    spark = get_spark("fhirflat_spark_driver")

    if args.cmd == "encode":
        from fhirflat_spark.encode import encode_table

        if args.src:
            df = spark.read.parquet(args.src)
        else:
            from fhirflat_spark.datagen import gen_spark

            df = gen_spark(spark, args.rows, seed=42)
        shuffle = {"true": True, "false": False, "auto": "auto"}[args.shuffle]
        split = lambda v: [c.strip() for c in v.split(",") if c.strip()] if v else None
        res = encode_table(df, args.out, rows_per_bucket=args.rows_per_bucket,
                           resume=args.resume, profile=args.profile,
                           shuffle=shuffle, weight_col=args.weight_col,
                           bloom_columns=split(args.bloom_columns),
                           ndv_columns=split(args.ndv_columns),
                           quantile_columns=split(args.quantile_columns))
        print(json.dumps({
            "rows": res.rows, "raw_bytes": res.raw_bytes,
            "encoded_bytes": res.encoded_bytes, "ratio": round(res.ratio, 4),
            "seconds": round(res.seconds, 2), "gbps": round(res.throughput_gbps, 4),
            "partitions": res.num_partitions, "shuffled": res.shuffled,
        }))
    elif args.cmd == "append":
        from fhirflat_spark.encode import append_table

        if args.src:
            df = spark.read.parquet(args.src)
        else:
            from fhirflat_spark.datagen import gen_spark

            df = gen_spark(spark, args.rows, seed=args.seed)
        res = append_table(df, args.out, rows_per_bucket=args.rows_per_bucket,
                           profile=args.profile, branch=args.branch)
        print(json.dumps({
            "rows_total": res.rows, "raw_bytes": res.raw_bytes,
            "encoded_bytes": res.encoded_bytes, "ratio": round(res.ratio, 4),
            "seconds": round(res.seconds, 2),
            "partitions_total": res.num_partitions,
        }))
    elif args.cmd == "verify":
        from pyspark.sql import functions as F

        from fhirflat_spark.decode import verify_table

        cols = _parse_columns(args.columns)
        v = verify_table(spark, args.out, columns=cols)
        bad = v.where(~F.col("ok"))
        n_bad = bad.count()
        print(json.dumps({"chunks": v.count(), "failed": n_bad}))
        if n_bad:
            bad.show(20, truncate=False)
            raise SystemExit(1)
    elif args.cmd == "decode":
        from fhirflat_spark.decode import decode_table

        cols = _parse_columns(args.columns)
        df = decode_table(spark, args.out, columns=cols,
                          snapshot=args.snapshot, as_of=args.as_of)
        print(json.dumps({"rows": df.count()}))
        df.show(args.show, truncate=60)
    elif args.cmd == "delete":
        if args.where:
            if args.column or args.values:
                raise SystemExit("--where excludes --column/--values")
            from fhirflat_spark.maintenance import delete_where

            print(json.dumps(delete_where(
                spark, args.out, _parse_where(args.where),
                dry_run=args.dry_run,
            )))
        else:
            if not (args.column and args.values):
                raise SystemExit("need --column + --values, or --where")
            if args.dry_run:
                raise SystemExit("--dry-run requires --where (equality "
                                 "deletes have no classification to "
                                 "preview)")
            from fhirflat_spark.manifest import delete_rows

            vals = [v.strip() for v in args.values.split(",") if v.strip()]
            print(json.dumps(delete_rows(spark, args.out, args.column,
                                         vals)))
    elif args.cmd == "maintain":
        from fhirflat_spark.maintenance import maintain_table

        print(json.dumps(maintain_table(
            spark, args.out, rows_per_bucket=args.rows_per_bucket,
            keep_snapshots=args.keep_snapshots, dry_run=args.dry_run,
            order_by=_parse_columns(args.order_by), zorder=args.zorder,
            expire_older_than=args.expire_older_than,
        )))
    elif args.cmd == "snapshots":
        from fhirflat_spark import manifest as M

        out = {}
        if args.rollback is not None:
            out["rollback"] = M.rollback(spark, args.out, args.rollback)
        if args.tag:
            out["tagged"] = {args.tag: M.create_tag(args.out, args.tag, args.at)}
        if args.drop_tag:
            M.drop_tag(args.out, args.drop_tag)
            out["dropped_tag"] = args.drop_tag
        if args.publish_branch:
            out["published"] = {
                args.publish_branch: M.publish_branch(args.out,
                                                      args.publish_branch)
            }
        if args.drop_branch:
            out["dropped_branch_snapshots"] = M.drop_branch(args.out,
                                                            args.drop_branch)
        if args.expire_keep is not None:
            out["expired"] = M.expire_snapshots(
                args.out, keep_last=args.expire_keep,
                older_than=args.expire_older_than,
            )
        elif args.expire_older_than:
            raise SystemExit("--expire-older-than needs --expire-keep")
        if args.vacuum:
            out["vacuumed_part_ids"] = M.vacuum(spark, args.out)
        out["snapshots"] = [
            r.asDict() for r in M.list_snapshots(spark, args.out).collect()
        ]
        out["refs"] = {
            k: v for k, v in M._read_refs_full(args.out).items()
        }
        print(json.dumps(out))
    elif args.cmd == "dedup":
        from fhirflat_spark.manifest import drop_duplicate_rows

        keys = [c.strip() for c in args.key.split(",") if c.strip()]
        order = [c.strip() for c in (args.order or "").split(",") if c.strip()]
        print(json.dumps(drop_duplicate_rows(spark, args.out, keys,
                                             order_cols=order or None)))
    elif args.cmd == "update":
        from fhirflat_spark.maintenance import update_where

        sets = {}
        for a in args.set:
            col, eq, expr = a.partition("=")
            if not eq or not col.strip() or not expr.strip():
                raise SystemExit(f"bad --set {a!r}: expected COL=EXPR")
            sets[col.strip()] = expr.strip()
        print(json.dumps(update_where(
            spark, args.out, _parse_where(args.where), sets,
            rows_per_bucket=args.rows_per_bucket,
        )))
    elif args.cmd == "analyze":
        from fhirflat_spark.maintenance import analyze_table

        print(json.dumps(analyze_table(
            spark, args.out,
            ndv_columns=_parse_columns(args.ndv),
            quantile_columns=_parse_columns(args.quantile_columns),
        )))
    elif args.cmd == "stats":
        from fhirflat_spark.manifest import aggregate_from_metadata
        from fhirflat_spark.ndv import ndv_from_metadata

        cols = [c.strip() for c in args.columns.split(",") if c.strip()]
        snap = args.snapshot
        out = {"aggregate": aggregate_from_metadata(args.out, cols,
                                                    snapshot=snap)}
        if args.ndv:
            out["ndv"] = {
                c.strip(): ndv_from_metadata(args.out, c.strip(),
                                             snapshot=snap)
                for c in args.ndv.split(",") if c.strip()
            }
        if args.quantile:
            from fhirflat_spark.quantiles import quantile_from_metadata

            out["quantile"] = {}
            for spec in args.quantile.split(","):
                spec = spec.strip()
                if not spec:
                    continue
                col, _, qtxt = spec.partition(":")
                out["quantile"][spec] = quantile_from_metadata(
                    args.out, col, float(qtxt), snapshot=snap
                )
        if args.where:
            from fhirflat_spark.encoded_exec import count_encoded, sum_encoded

            where = _parse_where(args.where)
            wsnap = int(snap) if snap is not None and str(snap).isdigit() \
                else snap
            rep: dict = {}
            filt = {
                "count": count_encoded(spark, args.out, where=where,
                                       snapshot=wsnap, report=rep),
                "count_tiers": rep,
                "sum": {},
            }
            for c in cols:
                try:
                    r2: dict = {}
                    filt["sum"][c] = {
                        "value": sum_encoded(spark, args.out, c,
                                             where=where, snapshot=wsnap,
                                             report=r2),
                        "tiers": r2,
                    }
                except ValueError:
                    filt["sum"][c] = None  # non-integral column
            out["filtered"] = filt
        print(json.dumps(out))
    elif args.cmd == "changes":
        from pyspark.sql import functions as F

        from fhirflat_spark.changes import table_changes

        ch = table_changes(spark, args.out, args.from_v, args.to_v)
        counts = {
            r["_change_type"]: r["n"]
            for r in ch.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
        }
        print(json.dumps({
            "from": args.from_v, "to": args.to_v,
            "inserts": counts.get("insert", 0),
            "deletes": counts.get("delete", 0),
        }))
        ch.show(args.show, truncate=60)
    elif args.cmd == "rollup":
        from fhirflat_spark import fsio
        from fhirflat_spark.rollup import (
            build_rollup,
            read_rollup,
            refresh_rollup,
        )

        if fsio.exists(f"{args.dest}/rollup.json"):
            meta = refresh_rollup(spark, args.out, args.dest)
            action = "refresh"
        else:
            if not args.ts_col:
                p.error("--ts-col is required to build a new rollup")
            csv = lambda s: [c for c in s.split(",") if c]  # noqa: E731
            meta = build_rollup(
                spark, args.out, args.dest, ts_col=args.ts_col,
                bucket=args.bucket, group_cols=csv(args.group_cols),
                sum_cols=csv(args.sum_cols),
            )
            action = "build"
        df = read_rollup(spark, args.dest)
        print(json.dumps({
            "action": action, "snapshot": meta["snapshot"],
            "bucket": meta["bucket"], "buckets": df.count(),
        }))
        df.orderBy("bucket").show(args.show, truncate=40)
    elif args.cmd == "index":
        from fhirflat_spark import fsio
        from fhirflat_spark.text_index import (
            build_token_index,
            read_token_index,
            refresh_token_index,
        )

        if fsio.exists(f"{args.dest}/text_index.json"):
            meta = refresh_token_index(spark, args.out, args.dest)
            action = "refresh"
        else:
            meta = build_token_index(spark, args.out, args.dest,
                                     text_col=args.column)
            action = "build"
        idx = read_token_index(spark, args.dest)
        print(json.dumps({
            "action": action, "snapshot": meta["snapshot"],
            "text_col": meta["text_col"],
            "postings": idx.count(),
            "tokens": idx.select("token").distinct().count(),
        }))
    elif args.cmd == "search":
        from fhirflat_spark.text_index import lookup_parts, search_all_tokens

        cols = [c.strip() for c in args.columns.split(",") if c.strip()]
        toks = [t.strip() for t in args.token.split(",") if t.strip()]
        hits = search_all_tokens(spark, args.out, args.dest, toks,
                                 columns=cols or None)
        posting = set(lookup_parts(args.dest, toks[0]))
        for t in toks[1:]:
            posting &= set(lookup_parts(args.dest, t))
        print(json.dumps({
            "tokens": toks,
            "posting_partitions": len(posting),
            "rows": hits.count(),
        }))
        hits.show(args.show, truncate=40)
    elif args.cmd == "vindex":
        from fhirflat_spark import fsio
        from fhirflat_spark.vector_index import (
            build_vector_index,
            read_vector_index,
            refresh_vector_index,
        )

        if fsio.exists(f"{args.dest}/vector_index.json"):
            meta = refresh_vector_index(spark, args.out, args.dest)
            action = "refresh"
        else:
            meta = build_vector_index(spark, args.out, args.dest,
                                      vector_col=args.column,
                                      id_col=args.id_column, k=args.k)
            action = "build"
        idx = read_vector_index(spark, args.dest)
        print(json.dumps({
            "action": action, "snapshot": meta["snapshot"],
            "vector_col": meta["vector_col"], "k": meta["k"],
            "dim": meta["dim"], "postings": idx.count(),
        }))
    elif args.cmd == "vsearch":
        from pyspark.sql import functions as F

        from fhirflat_spark import fsio
        from fhirflat_spark.decode import decode_table
        from fhirflat_spark.manifest import read_summary
        from fhirflat_spark.vector_index import (
            lookup_parts,
            probe_cells,
            search_vectors,
        )

        meta = json.loads(
            fsio.read_bytes(f"{args.dest}/vector_index.json")
        )
        qrow = (
            decode_table(spark, args.out,
                         columns=[meta["id_col"], meta["vector_col"]])
            .where(F.col(meta["id_col"]) == args.query_id)
            .collect()
        )
        if not qrow:
            raise SystemExit(f"query id {args.query_id} not in table")
        qvec = qrow[0][meta["vector_col"]]
        parts = lookup_parts(args.dest, probe_cells(args.dest, qvec,
                                                    args.nprobe))
        res = search_vectors(spark, args.out, args.dest, qvec,
                             top_k=args.top_k, nprobe=args.nprobe)
        print(json.dumps({
            "query_id": args.query_id, "nprobe": args.nprobe,
            "parts_probed": len(parts),
            "parts_total": read_summary(spark, args.out)["num_partitions"],
        }))
        res.show(args.show, truncate=40)
    elif args.cmd == "groupby":
        from pyspark.sql import functions as F

        from fhirflat_spark.encoded_exec import (
            group_agg_encoded,
            group_count_encoded,
        )

        snap = args.snapshot
        if snap is not None and str(snap).isdigit():
            snap = int(snap)
        gcols = [c.strip() for c in args.group.split(",") if c.strip()]
        where = _parse_where(args.where)
        if args.value:
            df = group_agg_encoded(spark, args.out, gcols, args.value,
                                   snapshot=snap, where=where)
        else:
            df = group_count_encoded(spark, args.out, gcols, snapshot=snap,
                                     where=where)
        df.orderBy(F.col("cnt").desc()).show(args.show, truncate=40)
        print(json.dumps({"groups": df.count()}))
    elif args.cmd == "topk":
        from fhirflat_spark.encoded_exec import topk_rows_encoded

        snap = args.snapshot
        if snap is not None and str(snap).isdigit():
            snap = int(snap)
        cols = [c.strip() for c in args.columns.split(",") if c.strip()]
        df = topk_rows_encoded(
            spark, args.out, args.order_col, args.k, args.tiebreak,
            columns=cols or None, snapshot=snap,
            descending=not args.asc, where=_parse_where(args.where),
        )
        df.show(args.k, truncate=40)
    elif args.cmd == "apply":
        from fhirflat_spark.encode import apply_changes

        batch = spark.read.parquet(args.src)
        info = apply_changes(batch, args.out, args.key_column,
                             op_col=args.op_column,
                             rows_per_bucket=args.rows_per_bucket)
        print(json.dumps(info))
    elif args.cmd == "replicate":
        from fhirflat_spark.replicate import replicate_table

        cols = [c.strip() for c in args.columns.split(",") if c.strip()]
        info = replicate_table(spark, args.out, args.dest, args.key_column,
                               rows_per_bucket=args.rows_per_bucket,
                               where=args.where, columns=cols or None)
        print(json.dumps(info))
    elif args.cmd == "transcode":
        from fhirflat_spark.decode import transcode_table

        res = transcode_table(spark, args.src, args.out, profile=args.profile)
        print(json.dumps({
            "rows": res.rows, "encoded_bytes": res.encoded_bytes,
            "ratio": round(res.ratio, 4), "seconds": round(res.seconds, 2),
        }))
    elif args.cmd == "binpack":
        from fhirflat_spark.maintenance import binpack_partitions

        pids = (
            [int(v) for v in args.part_ids.split(",") if v.strip()]
            if args.part_ids else None
        )
        print(json.dumps(binpack_partitions(
            spark, args.out, part_ids=pids,
            rows_per_bucket=args.rows_per_bucket, min_fill=args.min_fill,
            order_by=_parse_columns(args.order_by), dry_run=args.dry_run,
        )))
    elif args.cmd == "compact":
        from fhirflat_spark.decode import compact_table

        res = compact_table(
            spark, args.src, args.out,
            rows_per_bucket=args.rows_per_bucket, profile=args.profile,
            order_by=_parse_columns(args.order_by), zorder=args.zorder,
        )
        print(json.dumps({
            "rows": res.rows, "partitions": res.num_partitions,
            "encoded_bytes": res.encoded_bytes,
            "ratio": round(res.ratio, 4), "seconds": round(res.seconds, 2),
        }))

    spark.stop()


if __name__ == "__main__":
    main()
