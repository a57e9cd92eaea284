"""Command-line interface mirroring the reference's verb surface.

    python -m shaha_spark build <spec> -a sha256,md5 -o /path/db [--append]
        [--dry-run] [--force] [--quiet]
    python -m shaha_spark query <hex> -d /path/db [-a algo] [-n limit]
        [--format plain|json]
    python -m shaha_spark info -d /path/db [--format plain|json]
    python -m shaha_spark algorithms

Verb parity: ref /root/reference/src/main.rs (Build/Query/Info) +
cli/build.rs, cli/query.rs, cli/info.rs. Source spec grammar is the
dispatcher's (see shaha_spark.sources). Exit codes follow the
reference: query with no matches exits non-zero (ref query.rs:82).
"""

from __future__ import annotations

import argparse
import json
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="shaha-spark")
    sub = p.add_subparsers(dest="command", required=True)

    b = sub.add_parser("build", help="build a hash database from a wordlist source")
    b.add_argument("spec", help="source: path | - | http(s)://… | seclists:p | aspell:lang")
    b.add_argument("-a", "--algorithms", default=None,
                   help="comma-separated (default: config defaults.algorithms, else sha256)")
    b.add_argument("-o", "--output", default=None,
                   help="output dataset dir (default: config defaults.output)")
    b.add_argument("--append", action="store_true")
    b.add_argument("--dry-run", action="store_true")
    b.add_argument("--force", action="store_true")
    b.add_argument("--quiet", action="store_true")
    b.add_argument("--partition-by-algorithm", action="store_true",
                   help="hive-partition the dataset by algorithm (partition pruning)")

    q = sub.add_parser("query", help="reverse-lookup a hash or hash prefix")
    q.add_argument("prefix_hex")
    q.add_argument("-d", "--database", required=True)
    q.add_argument("-a", "--algorithm")
    q.add_argument("-n", "--limit", type=int)
    q.add_argument("--format", choices=["plain", "json", "table"], default="plain")
    q.add_argument(
        "--out",
        help="write matches to this path (parquet/csv/jsonl by extension) "
        "as a distributed job instead of printing — results never pass "
        "through the driver",
    )
    q.add_argument(
        "--at-version", type=int, default=None,
        help="time-travel: query the dataset as pinned by this snapshot "
        "version (see the snapshot verb)",
    )

    i = sub.add_parser("info", help="database stats")
    i.add_argument("-d", "--database", required=True)
    i.add_argument("--format", choices=["plain", "json"], default="plain")

    # source provider management (ref src/cli/source.rs)
    s = sub.add_parser("source", help="manage wordlist source providers")
    ssub = s.add_subparsers(dest="source_command", required=True)
    sp = ssub.add_parser("pull", help="download/update a provider")
    sp.add_argument("provider")
    sl = ssub.add_parser("list", help="list available files from a provider")
    sl.add_argument("provider")
    sl.add_argument("path", nargs="?", default="")
    spp = ssub.add_parser("path", help="show cache path for a provider")
    spp.add_argument("provider")

    c = sub.add_parser(
        "compact", help="merge runs of small range-adjacent files in one swap"
    )
    c.add_argument("-d", "--database", required=True)
    c.add_argument(
        "--target-file-mb", type=int, default=128,
        help="target size per output file (default 128 MB)",
    )
    c.add_argument("--force", action="store_true", help="rewrite the whole database")
    c.add_argument("--dry-run", action="store_true", help="print the plan only")
    c.add_argument(
        "--max-slices", type=int, default=None,
        help="bound one maintenance run to the N runs with the most files",
    )

    f = sub.add_parser(
        "forget",
        help="erase preimages or digests, rewriting only range-matching "
        "files (GDPR-style targeted delete)",
    )
    f.add_argument("-d", "--database", required=True)
    f.add_argument(
        "-w", "--word", action="append", default=[],
        help="preimage to erase under every database algorithm "
        "(repeatable)",
    )
    f.add_argument(
        "-x", "--digest", action="append", default=[],
        help="raw digest (hex) to erase (repeatable)",
    )
    f.add_argument(
        "-a", "--algorithm", action="append", default=None,
        help="restrict preimage erasure to these algorithms (repeatable)",
    )
    f.add_argument("--dry-run", action="store_true", help="print the plan only")

    sq = sub.add_parser(
        "sql",
        help="run ad-hoc SQL against the database (registered as view "
        "`db`; digests readable via hex(hash))",
    )
    sq.add_argument("statement")
    sq.add_argument("-d", "--database", required=True)
    sq.add_argument(
        "--at-version", type=int, default=None,
        help="register the snapshot-pinned file set instead of the live "
        "dataset",
    )
    sq.add_argument(
        "--format", choices=["json", "tsv"], default="tsv",
        help="result rendering (default tsv)",
    )
    sq.add_argument(
        "-n", "--limit", type=int, default=1000,
        help="cap on printed rows (default 1000); use LIMIT in the "
        "statement for exact control",
    )
    sq.add_argument(
        "--table", action="append", default=[], metavar="NAME=PATH",
        help="register an extra parquet path as a view (repeatable), "
        "e.g. --table events=/data/events.parquet",
    )

    sn = sub.add_parser(
        "snapshot",
        help="create/list/read/diff time-travel snapshots of a database",
    )
    snsub = sn.add_subparsers(dest="snapshot_command", required=True)
    snc = snsub.add_parser("create", help="record the current file set")
    snc.add_argument("-d", "--database", required=True)
    snc.add_argument("--note", default="", help="free-text label")
    snl = snsub.add_parser("list", help="list snapshot versions")
    snl.add_argument("-d", "--database", required=True)
    snr = snsub.add_parser(
        "read", help="count + sample the dataset as of a version"
    )
    snr.add_argument("-d", "--database", required=True)
    snr.add_argument("-v", "--version", type=int, required=True)
    snr.add_argument(
        "--allow-missing", action="store_true",
        help="read the surviving subset when erasure/vacuum made holes",
    )
    snd = snsub.add_parser("diff", help="file-level diff of two versions")
    snd.add_argument("-d", "--database", required=True)
    snd.add_argument("versions", nargs=2, type=int, metavar="V")

    v = sub.add_parser(
        "vacuum",
        help="expire old snapshots and reclaim retained storage",
    )
    v.add_argument("-d", "--database", required=True)
    v.add_argument(
        "--keep", type=int, default=1,
        help="how many newest snapshots to keep (default 1)",
    )

    sub.add_parser("algorithms", help="list available hash algorithms")
    return p


def _run_source(args) -> int:
    """The catalog verbs are driver-only — no Spark session needed."""
    from shaha_spark.sources import aspell, seclists

    provider = args.provider
    if provider not in ("seclists", "aspell"):
        print(
            f"Unknown provider: '{provider}'. Available: seclists, aspell",
            file=sys.stderr,
        )
        return 2
    if args.source_command == "pull":
        if provider == "seclists":
            seclists.ensure_clone()
            return 0
        if aspell.aspell_available():
            print("aspell is installed and ready.", file=sys.stderr)
            return 0
        print("aspell is not installed.", file=sys.stderr)
        return 1
    if args.source_command == "list":
        try:
            if provider == "seclists":
                print("\n".join(seclists.list_wordlists(args.path)))
            else:
                print("\n".join(aspell.list_dicts()))
        except RuntimeError as err:  # provider backend unavailable
            print(f"error: {err}", file=sys.stderr)
            return 1
        return 0
    # path: known provider, but only seclists has a cache directory
    if provider == "seclists":
        print(seclists.cache_dir())
        return 0
    print(
        f"'source path' is not supported for provider '{provider}' "
        "(aspell dictionaries live in the system aspell installation)",
        file=sys.stderr,
    )
    return 2


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    if args.command == "algorithms":
        from shaha_spark.functions.hashers import available_algorithms

        print("\n".join(available_algorithms()))
        return 0

    if args.command == "source":
        return _run_source(args)

    from shaha_spark.config import apply_object_store, load_config
    from shaha_spark.session import get_spark

    cfg = load_config()
    spark = get_spark(app_name=f"shaha-{args.command}")
    spark.sparkContext.setLogLevel("ERROR")
    apply_object_store(spark, cfg)  # s3a credentials for s3a:// paths
    try:
        if args.command == "build":
            from shaha_spark.pipeline.build import build
            from shaha_spark.sources import parse_source

            # precedence: CLI flag > env/config (ref src/config.rs:97-144)
            algos = (
                [a.strip() for a in args.algorithms.split(",") if a.strip()]
                if args.algorithms
                else cfg.algorithms
            )
            output = args.output or cfg.output
            if not output:
                print("error: no output path (use -o or config defaults.output)", file=sys.stderr)
                return 2
            src = parse_source(spark, args.spec)
            summary = build(
                spark,
                src.words,
                algos,
                output,
                source_name=src.name,
                source_hash=src.content_hash,
                append=args.append,
                dry_run=args.dry_run,
                force=args.force,
                partition_by_algorithm=args.partition_by_algorithm,
            )
            if not args.quiet:
                print(json.dumps(summary, indent=2), file=sys.stderr)
            return 0

        if args.command == "query":
            from shaha_spark.query import DEFAULT_QUERY_LIMIT, format_rows, query

            # json/table must hold every row in driver memory, so an
            # unlimited query gets a default cap; plain streams below.
            limit = args.limit
            if limit is None and args.format != "plain":
                limit = DEFAULT_QUERY_LIMIT
            try:
                df = query(
                    spark,
                    args.database,
                    args.prefix_hex,
                    algorithm=args.algorithm,
                    limit=limit,
                    at_version=args.at_version,
                )
            except ValueError as err:  # bad hex (ref query.rs:69-70 errors too)
                print(f"error: {err}", file=sys.stderr)
                return 2
            except FileNotFoundError as err:  # snapshot hole / no version
                print(f"error: {err}", file=sys.stderr)
                return 2
            if args.out:
                from pyspark.sql import functions as F

                # executor-side write: result size never constrains the
                # driver, unlike any of the printing formats
                out = args.out
                # text formats get hex digests and flattened arrays
                # (CSV cannot carry array<string>); parquet keeps the
                # native schema
                flat = df.withColumn("hash", F.lower(F.hex("hash")))
                for name, dtype in flat.dtypes:
                    if dtype.startswith("array"):
                        flat = flat.withColumn(name, F.array_join(name, ","))
                if out.endswith(".csv"):
                    flat.write.mode("overwrite").option("header", "true").csv(out)
                elif out.endswith(".jsonl") or out.endswith(".json"):
                    flat.write.mode("overwrite").json(out)
                else:
                    df.write.mode("overwrite").parquet(out)
                # same contract as the printing paths: no matches exits
                # non-zero (ref query.rs:82) — the cheap post-write
                # emptiness probe reads one row via the same predicates
                if df.isEmpty():
                    print("No matches found", file=sys.stderr)
                    return 1
                print(f"wrote matches to {out}", file=sys.stderr)
                return 0
            if args.format == "plain":
                # Stream partition-at-a-time — constant driver memory,
                # like the reference's row iterator (ref parquet.rs:563-565);
                # a bare `collect()` of a short prefix on a 100 TB database
                # would pull millions of rows into the driver.
                it = df.toLocalIterator()
                first = next(it, None)
                if first is None:
                    print("No matches found", file=sys.stderr)
                    return 1  # ref query.rs:82 bails on empty result
                print(format_rows([first], "plain"))
                for r in it:
                    print(format_rows([r], "plain"))
                return 0
            rows = df.collect()
            if not rows:
                print("No matches found", file=sys.stderr)
                return 1  # ref query.rs:82 bails on empty result
            if args.limit is None and len(rows) == DEFAULT_QUERY_LIMIT:
                print(
                    f"(showing first {DEFAULT_QUERY_LIMIT} matches; use -n to change)",
                    file=sys.stderr,
                )
            print(format_rows(rows, args.format))
            return 0

        if args.command == "compact":
            from shaha_spark.pipeline.compact import compact_hashdb, plan_compaction

            target = args.target_file_mb * 1024 * 1024
            if args.dry_run:
                out = plan_compaction(spark, args.database, target)
            else:
                out = compact_hashdb(
                    spark, args.database, target,
                    force=args.force, max_slices=args.max_slices,
                )
            out["slices"] = [
                {"dir": s["dir"], "n_files": len(s["files"]), "bytes": s["bytes"]}
                for s in out["slices"]
            ]
            print(json.dumps(out, indent=2))
            return 0

        if args.command == "forget":
            from shaha_spark.pipeline.forget import (
                forget_digests,
                plan_forget,
                preimage_digests,
            )

            # Validate ALL user arguments before any file is touched:
            # a ValueError mid-erasure (after files were rewritten)
            # must surface as the real failure it is, not be
            # misreported as a bad-argument exit 2 that also discards
            # the partial-deletion report.
            try:
                digests = [bytes.fromhex(h) for h in args.digest]
                if args.algorithm:
                    from shaha_spark.functions.hashers import HASHERS

                    unknown = [a for a in args.algorithm if a not in HASHERS]
                    if unknown:
                        raise ValueError(
                            f"unknown algorithm{'s' if len(unknown) > 1 else ''}:"
                            f" {', '.join(sorted(unknown))}"
                        )
            except ValueError as err:  # bad hex digest / unknown -a name
                print(f"error: {err}", file=sys.stderr)
                return 2
            # one digest expansion (incl. the sidecar-missing scan
            # fallback) for the plan and the run, and one forget of the
            # union: a file both sets touch is rewritten once
            if args.word:
                digests += preimage_digests(
                    spark, args.database, args.word,
                    algorithms=args.algorithm,
                )
            if args.dry_run:
                plan = plan_forget(spark, args.database, digests)
                plan.pop("candidates")
                print(json.dumps(plan, indent=2))
                return 0
            print(json.dumps(forget_digests(spark, args.database, digests), indent=2))
            return 0

        if args.command == "sql":
            from shaha_spark.pipeline.build import read_hashdb

            if args.at_version is not None:
                from shaha_spark.pipeline import snapshot as snap

                try:
                    base = snap.read_snapshot(
                        spark, args.database, args.at_version
                    )
                except (ValueError, FileNotFoundError) as err:
                    print(f"error: {err}", file=sys.stderr)
                    return 2
            else:
                base = read_hashdb(spark, args.database)
            base.createOrReplaceTempView("db")
            for spec in args.table:
                if "=" not in spec:
                    print(f"error: --table expects NAME=PATH, got {spec!r}",
                          file=sys.stderr)
                    return 2
                name, tpath = spec.split("=", 1)
                spark.read.parquet(tpath).createOrReplaceTempView(name)
            try:
                res = spark.sql(args.statement)
            except Exception as err:  # surface analysis errors cleanly
                print(f"error: {err}", file=sys.stderr)
                return 2
            rows = res.limit(args.limit).collect()
            if args.format == "json":
                def _j(v):
                    if isinstance(v, (bytes, bytearray)):
                        return bytes(v).hex()
                    if isinstance(v, list):
                        return [_j(x) for x in v]
                    if isinstance(v, dict):
                        return {k: _j(x) for k, x in v.items()}
                    if hasattr(v, "asDict"):  # struct columns (Row)
                        return {k: _j(x) for k, x in v.asDict().items()}
                    return v

                # default=str renders the non-JSON-native scalar types
                # SQL legitimately returns (timestamp, date, Decimal)
                # instead of dying on a TypeError traceback
                print(json.dumps(
                    [{c: _j(r[c]) for c in res.columns} for r in rows],
                    default=str,
                ))
            else:
                print("\t".join(res.columns))
                for r in rows:
                    print("\t".join(
                        bytes(v).hex() if isinstance(v, (bytes, bytearray))
                        else ",".join(map(str, v)) if isinstance(v, list)
                        else str(v)
                        for v in r
                    ))
            return 0

        if args.command == "snapshot":
            from shaha_spark.pipeline import snapshot as snap

            if args.snapshot_command == "create":
                m = snap.snapshot_create(spark, args.database, note=args.note)
                print(json.dumps(
                    {"version": m["version"], "files": len(m["files"])},
                    indent=2,
                ))
            elif args.snapshot_command == "list":
                out = [
                    {
                        "version": m["version"],
                        "note": m.get("note", ""),
                        "files": len(m["files"]),
                        "bytes": sum(f["bytes"] for f in m["files"]),
                    }
                    for m in snap.snapshot_list(spark, args.database)
                ]
                print(json.dumps(out, indent=2))
            elif args.snapshot_command == "read":
                # nonexistent versions and vacuum-made holes are routine
                # user errors: clean message + exit 2, like the query
                # verb handles the identical conditions
                try:
                    df = snap.read_snapshot(
                        spark, args.database, args.version,
                        allow_missing=args.allow_missing,
                    )
                    print(json.dumps({
                        "version": args.version,
                        "rows": df.count(),
                        "columns": df.columns,
                    }, indent=2))
                except (ValueError, FileNotFoundError) as err:
                    print(f"error: {err}", file=sys.stderr)
                    return 2
            elif args.snapshot_command == "diff":
                try:
                    print(json.dumps(snap.snapshot_diff(
                        spark, args.database, args.versions[0], args.versions[1]
                    ), indent=2))
                except (ValueError, FileNotFoundError) as err:
                    print(f"error: {err}", file=sys.stderr)
                    return 2
            return 0

        if args.command == "vacuum":
            from shaha_spark.pipeline import snapshot as snap

            print(json.dumps(
                snap.vacuum(spark, args.database, keep_latest=args.keep),
                indent=2,
            ))
            return 0

        if args.command == "info":
            from shaha_spark.pipeline.stats import info

            meta = info(spark, args.database)
            if args.format == "json":
                print(json.dumps(meta, indent=2))
            else:
                from shaha_spark.io_util import human_bytes

                print(f"Total records: {meta['total_records']:,}")
                print(f"Algorithms: {', '.join(meta['algorithms'])}")
                print(f"Sources: {', '.join(meta['sources'])}")
                print(f"Size: {human_bytes(meta.get('file_size_bytes', 0))}")
            return 0
        raise AssertionError(args.command)
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
