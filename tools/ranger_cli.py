"""Command-line client — the reference's ``cmd/client`` binary shape
(main.go: query / shell / import / table / catalog subcommands over the
client library). Talks to a running gateway's HTTP endpoint.

    python tools/ranger_cli.py --url http://127.0.0.1:2847 query "SELECT 1;"
    python tools/ranger_cli.py table list
    python tools/ranger_cli.py table describe db.t
    python tools/ranger_cli.py catalog list
    python tools/ranger_cli.py import /path/file.parquet db.t [--overwrite]
    python tools/ranger_cli.py shell          # interactive REPL
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ranger_spark import sqltext  # noqa: E402
from ranger_spark.client import LakehouseClient, RangerClient  # noqa: E402


def _complete(buf: str) -> bool:
    """A shell buffer is complete once its code ends with ';' — not a
    ';' inside a string, an identifier or a comment."""
    return sqltext.blank(buf).rstrip().endswith(";")


def _print_result(r) -> None:
    if r.columns:
        widths = [
            max(len(str(c)), *(len(str(row[i])) for row in r.rows))
            if r.rows
            else len(str(c))
            for i, c in enumerate(r.columns)
        ]
        line = " | ".join(str(c).ljust(w) for c, w in zip(r.columns, widths))
        print(line)
        print("-+-".join("-" * w for w in widths))
        for row in r.rows:
            print(
                " | ".join(str(v).ljust(w) for v, w in zip(row, widths))
            )
        print(f"({r.row_count} rows)")
    else:
        print(r.message or "OK")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="ranger_cli")
    p.add_argument("--url", default="http://127.0.0.1:2847")
    sub = p.add_subparsers(dest="cmd", required=True)
    q = sub.add_parser("query")
    q.add_argument("sql")
    sub.add_parser("shell")
    imp = sub.add_parser("import")
    imp.add_argument("file")
    imp.add_argument("table")
    imp.add_argument("--overwrite", action="store_true")
    tab = sub.add_parser("table")
    tsub = tab.add_subparsers(dest="tcmd", required=True)
    tsub.add_parser("list")
    td = tsub.add_parser("describe")
    td.add_argument("table")
    tdr = tsub.add_parser("drop")
    tdr.add_argument("table")
    cat = sub.add_parser("catalog")
    csub = cat.add_subparsers(dest="ccmd", required=True)
    csub.add_parser("list")
    cc = csub.add_parser("create")
    cc.add_argument("namespace")
    cd = csub.add_parser("drop")
    cd.add_argument("namespace")
    args = p.parse_args(argv)

    lc = LakehouseClient(RangerClient(args.url))
    try:
        if args.cmd == "query":
            _print_result(lc.execute_query(args.sql))
        elif args.cmd == "shell":
            print("ranger shell — end statements with ';', \\q to quit")
            buf = ""
            while True:
                try:
                    buf += input("ranger> " if not buf else "   ...> ")
                except EOFError:
                    break
                if buf.strip() in ("\\q", "exit", "quit"):
                    break
                if _complete(buf):
                    try:
                        _print_result(lc.execute_query(buf))
                    except Exception as e:
                        print(f"error: {e}")
                    buf = ""
                else:
                    buf += "\n"  # line comments end at the line
        elif args.cmd == "import":
            lc.import_file(args.file, args.table, overwrite=args.overwrite)
            print(f"imported {args.file} into {args.table}")
        elif args.cmd == "table":
            if args.tcmd == "list":
                print("\n".join(lc.list_tables()))
            elif args.tcmd == "describe":
                for name, typ in lc.describe_table(args.table):
                    print(f"{name}\t{typ}")
            else:
                lc.drop_table(args.table)
                print(f"dropped {args.table}")
        elif args.cmd == "catalog":
            if args.ccmd == "list":
                print("\n".join(lc.list_namespaces()))
            elif args.ccmd == "create":
                lc.create_namespace(args.namespace)
                print(f"created namespace {args.namespace}")
            else:
                lc.drop_namespace(args.namespace)
                print(f"dropped namespace {args.namespace}")
    except Exception as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
