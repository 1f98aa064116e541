"""CLI mirroring the reference's command surface
(/root/reference/src/cli.rs, src/commands/*): a user of
`binaryx import|query|db …` can run the same commands here.

    python -m binaryx_graph_spark import json <file> [--validate]
    python -m binaryx_graph_spark import directory <dir> [--pattern G]
    python -m binaryx_graph_spark query functions <pattern> [--binary B] [--limit N]
    python -m binaryx_graph_spark query strings --pattern P [--raw] [--binary B] [--limit N]
    python -m binaryx_graph_spark query callgraph <fn> [--depth N] [--binary B] [--callers]
    python -m binaryx_graph_spark query call-path <fn> [--max-depth N] [--show-paths]
        [--show-sequences] [--show-recursion] [--show-upward] [--show-context]
    python -m binaryx_graph_spark query binary --binary-name B
    python -m binaryx_graph_spark query xref <address> [--binary B]
    python -m binaryx_graph_spark db stats|init|clear|optimize|export <path>
    python -m binaryx_graph_spark db versions|history|rollback|vacuum|rebucket ...

Warehouse root: --warehouse or $BXG_WAREHOUSE (default ./warehouse).
Output: --format table|json (table escapes newlines and truncates to 60
chars — T5, query.rs:230-236).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _scan_literal(s: str):
    """CLI scan value fallback (schema unknown): int if it parses, else
    string.  Prefer :func:`_typed_literal`, which types the value from
    the table's registered schema — ``uid,=,777`` against a string key
    must stay the STRING '777', or the cross-type guards disable every
    pruning path and Spark's implicit cast changes match semantics
    (matching '0777')."""
    try:
        return int(s)
    except ValueError:
        return s


def _typed_literal(s: str, dtype):
    """Coerce a CLI value to the column's stored type.  A quoted value
    ('x' or \"x\") always forces a string literal regardless of the
    column type (the escape hatch the schema can't express)."""
    if len(s) >= 2 and s[0] == s[-1] and s[0] in ("'", '"'):
        return s[1:-1]
    if dtype is None:
        return _scan_literal(s)
    from pyspark.sql.types import BooleanType, FractionalType, IntegralType

    try:
        if isinstance(dtype, BooleanType):
            if s.lower() in ("true", "1"):
                return True
            if s.lower() in ("false", "0"):
                return False
            raise ValueError(s)
        if isinstance(dtype, IntegralType):
            return int(s)
        if isinstance(dtype, FractionalType):
            return float(s)
    except ValueError:
        raise SystemExit(
            f"scan value {s!r} does not parse as the column's stored type "
            f"{dtype.simpleString()}"
        ) from None
    return s


def _parse_preds(args_where, schema):
    """``col,op,val`` triples → typed scan predicates, typing each value
    from the table schema (see _typed_literal)."""
    fields = {f.name: f.dataType for f in schema.fields} if schema else {}
    preds = []
    for w in args_where:
        col, op, val = w.split(",", 2)
        dt = fields.get(col)
        if op == "between":
            lo, hi = val.split(":", 1)
            val = (_typed_literal(lo, dt), _typed_literal(hi, dt))
        elif op == "in":
            val = [_typed_literal(v, dt) for v in val.split(":")]
        else:
            val = _typed_literal(val, dt)
        preds.append((col, op, val))
    return preds


def _truncate_for_table(s: str, width: int = 60) -> str:
    """T5: escape \\n/\\r, truncate to width (query.rs:230-236).

    Reference parity: keeps the FIRST ``width`` chars and appends '...'
    (63 chars total at the default), exactly like
    ``format!("{}...", &value[..60])``."""
    s = s.replace("\n", "\\n").replace("\r", "\\r")
    return s[:width] + "..." if len(s) > width else s


def emit(df: DataFrame, fmt: str, limit: int = 1000) -> None:
    rows = df.limit(limit).collect()
    if fmt == "json":
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
        return
    cols = df.columns
    data = [[_truncate_for_table(str(r[c])) for c in cols] for r in rows]
    widths = [max([len(c)] + [len(d[i]) for d in data]) for i, c in enumerate(cols)]
    print(" | ".join(c.ljust(w) for c, w in zip(cols, widths)))
    print("-+-".join("-" * w for w in widths))
    for d in data:
        print(" | ".join(v.ljust(w) for v, w in zip(d, widths)))
    print(f"({len(rows)} rows)")


def _render_call_paths(paths_df: DataFrame) -> None:
    """Reference-parity table rendering for call paths
    (src/commands/query.rs:438-486): depth histogram, then the top-10
    longest paths as indented '├─ name @ addr' trees (indent = two
    spaces per node depth + 2, missing address → 'N/A')."""
    rows = paths_df.select("node_names", "node_addresses", "path_length").collect()
    if not rows:
        print("No call paths found")
        return
    hist: dict[int, int] = {}
    for r in rows:
        hist[r["path_length"]] = hist.get(r["path_length"], 0) + 1
    print(f"Found {len(rows)} call paths:")
    for d in sorted(hist):
        print(f"  Depth {d}: {hist[d]} paths")
    top = sorted(rows, key=lambda r: (-r["path_length"], list(r["node_names"])))[:10]
    print("\nLongest call path examples (top 10):")
    for i, r in enumerate(top):
        names, addrs = list(r["node_names"]), list(r["node_addresses"])
        print(f"  Path {i + 1}: {names[0]} (Depth: {r['path_length']})")
        for depth, (nm, ad) in enumerate(zip(names, addrs)):
            print(f"{'  ' * (depth + 2)}├─ {nm} @ {ad or 'N/A'}")
        print()
    if len(rows) > 10:
        print(f"  ... and {len(rows) - 10} more paths (use --format json to see full list)")


def _fn_pred(name: str):
    return (F.col("name") == name) | (F.col("uid") == name)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="binaryx-spark")
    p.add_argument(
        "--config",
        help="JSON config file with {'warehouse': ..., 'format': ...} defaults "
        "(the reference's config.json analog, src/config.rs:27-48)",
    )
    p.add_argument("--warehouse", default=None)
    p.add_argument("--format", choices=["table", "json"], default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    imp = sub.add_parser("import").add_subparsers(dest="what", required=True)
    imp_json = imp.add_parser("json")
    imp_json.add_argument("path")
    imp_json.add_argument("--validate", action="store_true")
    imp_dir = imp.add_parser("directory")
    imp_dir.add_argument("path")
    imp_dir.add_argument("--pattern", default="*.json")
    imp_dir.add_argument("--validate", action="store_true")
    # E12 / cli.rs:41 batch_size: files per merge batch. 0 = one
    # set-oriented bulk merge (the Spark-right default — chunking a bulk
    # load only adds merge passes); >0 exercises the real incremental
    # upsert path (per-batch last-write-wins seq), the shape a rolling
    # daily import runs in production
    imp_dir.add_argument("--batch-size", type=int, default=0, dest="batch_size")

    q = sub.add_parser("query").add_subparsers(dest="what", required=True)
    qf = q.add_parser("functions")
    qf.add_argument("pattern")
    qf.add_argument("--binary")
    qf.add_argument("--limit", type=int, default=50)
    qs = q.add_parser("strings")
    qs.add_argument("--pattern", default="")
    qs.add_argument("--raw", action="store_true")
    qs.add_argument("--binary")
    qs.add_argument("--limit", type=int, default=100)
    qc = q.add_parser("callgraph")
    qc.add_argument("function")
    qc.add_argument("--depth", type=int, default=1)  # reference default, cli.rs:100
    qc.add_argument("--binary")
    qc.add_argument("--callers", action="store_true")
    qp = q.add_parser("call-path")
    qp.add_argument("function")
    qp.add_argument("--max-depth", type=int, default=5)  # cli.rs:128
    qp.add_argument("--binary")
    for flag in ("paths", "sequences", "recursion", "upward", "context"):
        qp.add_argument(f"--show-{flag}", action="store_true")
    qb = q.add_parser("binary")  # Query binary info (cli.rs:85-90)
    qb.add_argument("--binary-name", required=True, dest="binary_name")
    qcy = q.add_parser("cypher")
    qcy.add_argument("text", help="Cypher-subset query (see cypher.py docstring)")
    qcy.add_argument("--param", action="append", default=[], metavar="NAME=VALUE",
                     help="query parameter ($NAME); repeatable")
    qcy.add_argument("--explain", action="store_true",
                     help="print the Catalyst physical plan instead of rows")
    qx = q.add_parser("xref")
    qx.add_argument("address")
    qx.add_argument("--binary")

    db = sub.add_parser("db").add_subparsers(dest="what", required=True)
    db.add_parser("stats")
    db.add_parser("init")
    db.add_parser("clear")
    db.add_parser("optimize")
    db_exp = db.add_parser("export")
    db_exp.add_argument("path")
    db_ver = db.add_parser("versions")
    db_ver.add_argument("table")
    db_hist = db.add_parser("history")
    db_hist.add_argument("table")
    db_rb = db.add_parser("rollback")
    db_rb.add_argument("table")
    db_rb.add_argument("version", type=int)
    db_vac = db.add_parser("vacuum")
    db_vac.add_argument("--keep", type=int, default=2)
    db_rbk = db.add_parser("rebucket")
    db_rbk.add_argument("table")
    db_rbk.add_argument("n_buckets", type=int)
    db_scan = db.add_parser("scan")  # zone-map/bloom data-skipping read
    db_scan.add_argument("table")
    db_scan.add_argument(
        "--where",
        action="append",
        default=[],
        metavar="COL,OP,VALUE",
        help="conjunct: col,op,value with op in = < <= > >= between in "
        "(between: value=lo:hi; in: value=v1:v2:...)",
    )
    db_scan.add_argument("--version", type=int, default=None)
    db_scan.add_argument("--limit", type=int, default=20)
    db_del = db.add_parser("delete")  # file-granular row deletes
    db_del.add_argument("table")
    db_del.add_argument(
        "--where", action="append", required=True, metavar="COL,OP,VALUE"
    )
    db_del.add_argument(
        "--dv",
        action="store_true",
        help="merge-on-read: record deletion-vector tombstones instead "
        "of rewriting files (O(deleted rows) written; optimize purges)",
    )
    db_ren = db.add_parser("rename-column")  # metadata-only (column mapping)
    db_ren.add_argument("table")
    db_ren.add_argument("old")
    db_ren.add_argument("new")
    db_drop = db.add_parser("drop-column")
    db_drop.add_argument("table")
    db_drop.add_argument("column")
    db_wide = db.add_parser("widen-column")
    db_wide.add_argument("table")
    db_wide.add_argument("column")
    db_wide.add_argument("type", help="lossless supertype, e.g. bigint / double")
    db_snap = db.add_parser("snapshot")  # catalog-pinned consistent view
    db_snap.add_argument("--version", type=int, default=None)
    db_chg = db.add_parser("changes")  # CDC between versions
    db_chg.add_argument("table")
    db_chg.add_argument("from_version", type=int)
    db_chg.add_argument("to_version", type=int, nargs="?", default=None)
    db_chg.add_argument("--limit", type=int, default=20)

    args = p.parse_args(argv)

    # resolution order: CLI flag > config file > env > default
    cfg = {}
    if args.config:
        with open(args.config) as f:
            cfg = json.load(f)
    args.warehouse = (
        args.warehouse or cfg.get("warehouse") or os.environ.get("BXG_WAREHOUSE", "./warehouse")
    )
    args.format = args.format or cfg.get("format") or "table"

    from .operators.ingest import build_graph_tables
    from .operators.search import search_functions, search_strings
    from .operators.traverse import (
        call_sequences,
        direct_recursion,
        enumerate_paths,
        indirect_recursion,
        reachable,
    )
    from .operators.xref import call_context, global_stats, xref_address
    from .session import get_spark
    from .sources.json_source import read_analysis_json, validate_documents
    from .sources.warehouse import Warehouse

    spark = get_spark("binaryx-cli")
    wh = Warehouse(spark, args.warehouse)

    def tables():
        return {
            name: wh.read(name)
            for name in [
                "binaries", "functions", "strings", "libraries", "contains",
                "imports", "imports_library", "belongs_to", "calls", "contains_string",
            ]
        }

    fmt = args.format
    if args.cmd == "import":
        batch_size = getattr(args, "batch_size", 0)
        if args.what == "directory" and batch_size > 0:
            import glob as _glob

            files = sorted(_glob.glob(f"{args.path}/{args.pattern}"))
            groups = [files[i:i + batch_size] for i in range(0, len(files), batch_size)]
            for seq, group in enumerate(groups, start=1):
                docs = read_analysis_json(spark, group)  # list of files
                if args.validate:
                    errs = validate_documents(docs)
                    if not errs.isEmpty():
                        emit(errs, fmt)
                        return 2
                t = build_graph_tables(docs)
                wh.initialize()
                with t:
                    wh.merge_batch(
                        {k: v for k, v in t.items() if k != "import_stats"},
                        batch_seq=seq,
                    )
                    if seq == len(groups):
                        emit(t["import_stats"], fmt)
            return 0
        path = args.path if args.what == "json" else f"{args.path}/{args.pattern}"
        docs = read_analysis_json(spark, path)
        if args.validate:
            errs = validate_documents(docs)
            if not errs.isEmpty():
                emit(errs, fmt)
                return 2
        t = build_graph_tables(docs)
        wh.initialize()
        with t:
            wh.merge_batch({k: v for k, v in t.items() if k != "import_stats"})
            emit(t["import_stats"], fmt)
        return 0

    if args.cmd == "db":
        if args.what == "init":
            wh.initialize()
            print("initialized")
        elif args.what == "clear":
            wh.clear()
            print("cleared")
        elif args.what == "stats":
            emit(global_stats(tables()), fmt)
        elif args.what == "optimize":
            for name, (before, after) in sorted(wh.optimize().items()):
                print(f"{name}: {before} -> {after} files")
        elif args.what == "export":
            edges = wh.export_graph(args.path)
            print(f"exported {edges.count()} edges to {args.path}")
        elif args.what == "versions":
            print(f"{args.table}: {wh.versions(args.table)}")
        elif args.what == "history":
            for r in wh.history(args.table):
                nb = f" buckets={r['n_buckets']}" if r["n_buckets"] else ""
                print(
                    f"v{r['version']:05d} {r['kind']:<8} "
                    f"{r['n_files']} files {r['bytes']} bytes{nb}"
                )
        elif args.what == "rollback":
            wh.rollback(args.table, args.version)
            print(f"rolled back {args.table} to v{args.version}")
        elif args.what == "vacuum":
            removed = wh.vacuum(keep_last=args.keep)
            print(f"vacuumed {sum(removed.values())} snapshots")
        elif args.what == "rebucket":
            v = wh.rebucket(args.table, args.n_buckets)
            print(f"rebucketed {args.table} to {args.n_buckets} buckets (v{v:05d})")
        elif args.what == "scan":
            preds = _parse_preds(args.where, wh.table_schema(args.table))
            df, diag = wh.scan(
                args.table, preds, version=args.version, with_diagnostics=True
            )
            emit(df.limit(args.limit), fmt)
            if diag["files_total"] is not None:
                print(
                    f"scanned {diag['files_read']}/{diag['files_total']} files "
                    f"(zone-map/bloom skipping)"
                )
        elif args.what == "delete":
            preds = _parse_preds(args.where, wh.table_schema(args.table))
            if args.dv:
                d = wh.delete_where_dv(args.table, preds)
                print(
                    f"deleted {d['rows_deleted']} rows merge-on-read "
                    f"({d['dv_bytes']} tombstone bytes, 0 files rewritten)"
                )
            else:
                d = wh.delete_where(args.table, preds)
                print(
                    f"deleted {d['rows_deleted']} rows "
                    f"(rewrote {d['files_rewritten']}/{d['files_total']} files)"
                )
        elif args.what == "rename-column":
            v = wh.rename_column(args.table, args.old, args.new)
            print(f"renamed {args.table}.{args.old} -> {args.new} (v{v:05d}, metadata-only)")
        elif args.what == "drop-column":
            v = wh.drop_column(args.table, args.column)
            print(f"dropped {args.table}.{args.column} (v{v:05d}, metadata-only)")
        elif args.what == "widen-column":
            v = wh.widen_column(args.table, args.column, args.type)
            print(f"widened {args.table}.{args.column} to {args.type} (v{v:05d}, metadata-only)")
        elif args.what == "snapshot":
            pins = wh.catalog_snapshot(version=args.version)
            if not pins:
                print("no catalog commit yet (use import_atomic / Engine.ingest_atomic)")
            for t, v in sorted(pins.items()):
                print(f"{t:<18} v{v:05d}")
        elif args.what == "changes":
            df, diag = wh.read_changes(
                args.table,
                args.from_version,
                args.to_version,
                with_diagnostics=True,
            )
            emit(df.limit(args.limit), fmt)
            if diag["buckets_total"] is not None:
                print(
                    f"diffed {diag['buckets_read']}/{diag['buckets_total']} "
                    f"buckets (manifest diff)"
                )
        return 0

    t = tables()
    if args.what == "cypher":
        from .cypher import cypher

        params = {}
        for kv in args.param:
            if "=" not in kv:
                print(f"bad --param {kv!r} (expected NAME=VALUE)")
                return 2
            k, v = kv.split("=", 1)
            params[k] = int(v) if v.lstrip("-").isdigit() else v
        out = cypher(t, args.text, params=params)
        if args.explain:
            # the proof that pasted Cypher compiles into an optimizable
            # Catalyst plan, not an interpreter: show it
            out.explain("formatted")
            return 0
        emit(out, fmt)
    elif args.what == "binary":
        # F2: hash-equals OR filename-contains, LIMIT 1 (importer.rs:432-437);
        # deterministic tiebreak on hash so repeated runs agree
        b = t["binaries"]
        emit(
            b.filter(
                (F.col("hash") == args.binary_name)
                | F.col("filename").contains(args.binary_name)
            ).orderBy("hash").limit(1),
            fmt,
        )
    elif args.what == "functions":
        emit(
            search_functions(
                t["functions"], t["contains"], t["imports"], args.pattern,
                binary_filter=args.binary, binaries=t["binaries"], limit=args.limit,
            ),
            fmt,
        )
    elif args.what == "strings":
        emit(
            search_strings(
                t["strings"], t["contains_string"], args.pattern, raw=args.raw,
                binary_filter=args.binary, binaries=t["binaries"], limit=args.limit,
            ),
            fmt,
        )
    elif args.what == "callgraph":
        seeds = t["functions"].filter(_fn_pred(args.function)).select("uid")
        out = reachable(
            t["calls"], seeds,
            direction="in" if args.callers else "out",
            max_depth=args.depth,
        )
        emit(out.join(t["functions"], "uid").orderBy("depth", "uid"), fmt)
    elif args.what == "call-path":
        show_all = not any(
            getattr(args, f"show_{f}") for f in ("paths", "sequences", "recursion", "upward", "context")
        )  # no flag → show everything (query.rs:427-431)
        pred = _fn_pred(args.function)
        seeds = t["functions"].filter(pred).select("uid")
        if show_all or args.show_paths:
            paths = enumerate_paths(t["calls"], t["functions"], seeds, max_depth=args.max_depth)
            print("# paths")
            if fmt == "json":
                emit(
                    paths.select(
                        F.concat_ws("→", "node_names").alias("path"), "path_length"
                    ).orderBy(F.desc("path_length"), "path").limit(10),
                    fmt,
                )
            else:
                _render_call_paths(paths)
        if show_all or args.show_sequences:
            print("# sequences")
            emit(call_sequences(t["calls"], t["functions"], pred).orderBy("order"), fmt)
        if show_all or args.show_recursion:
            print("# direct recursion")
            emit(direct_recursion(t["calls"], t["functions"]).filter(pred), fmt)
            print("# indirect recursion")
            emit(indirect_recursion(t["calls"], seeds), fmt)
        if show_all or args.show_upward:
            up = enumerate_paths(t["calls"], t["functions"], seeds, direction="in", max_depth=args.max_depth)
            print("# upward chains")
            emit(
                up.select(
                    F.concat_ws("→", F.reverse("node_names")).alias("chain"),
                    F.col("path_length").alias("chain_length"),
                ).orderBy("chain_length", "chain"),
                fmt,
            )
        if show_all or args.show_context:
            print("# context insights")
            emit(call_context(t["calls"], t["functions"], pred, max_depth=args.max_depth)["insights"], fmt)
    elif args.what == "xref":
        bh = None
        if args.binary:
            b = t["binaries"].filter(
                F.col("filename").contains(args.binary) | (F.col("hash") == args.binary)
            ).limit(1).collect()
            bh = b[0]["hash"] if b else None
        emit(xref_address(t["calls"], t["functions"], t["imports"], args.address, binary_hash=bh), fmt)
    return 0


if __name__ == "__main__":
    sys.exit(main())
