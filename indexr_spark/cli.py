"""Table CLI — tooling-parity entry point (the reference ships table
tools under indexr-tool; SURVEY.md §7 M5).

Usage (python -m indexr_spark.cli ...):

    create   <catalog_root> <spec.json>          register a table spec
    tables   <catalog_root>                      list tables
    load-csv <catalog_root> <table> <csv> [-d X] CSV → sorted segments
    describe <catalog_root> <table>              per-file column stats
    index    <catalog_root> <table>              build term+cmap indexes
                                                 for index-flagged cols
    compact  <catalog_root> <table>              fold rt → historical
    update-column <root> <table> <MODE> <col> [--expr E]
                                                 ADDCOL/ALTCOL/DELCOL
                                                 snapshot rewrite
    query    <catalog_root> <sql>                SQL over all tables
                                                 (hybrid views)
    history  <table_path>                        snapshot versions
    vacuum   <table_path> [--keep N]             drop expired snapshots
             [--min-age S]                       (spare files younger
                                                 than S seconds: a
                                                 concurrent writer's
                                                 not-yet-committed
                                                 batch; 0 = offline)
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None, spark=None) -> int:
    ap = argparse.ArgumentParser(prog="indexr_spark.cli", description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("create")
    p.add_argument("root")
    p.add_argument("spec_json")

    p = sub.add_parser("tables")
    p.add_argument("root")

    p = sub.add_parser("load-csv")
    p.add_argument("root")
    p.add_argument("table")
    p.add_argument("csv_path")
    p.add_argument("-d", "--delimiter", default=",")
    p.add_argument("--header", action="store_true")

    p = sub.add_parser("describe")
    p.add_argument("root")
    p.add_argument("table")

    p = sub.add_parser("index")
    p.add_argument("root")
    p.add_argument("table")

    p = sub.add_parser("compact")
    p.add_argument("root")
    p.add_argument("table")

    p = sub.add_parser("update-column")
    p.add_argument("root")
    p.add_argument("table")
    p.add_argument("mode", choices=["ADDCOL", "ALTCOL", "DELCOL"])
    p.add_argument("column")
    p.add_argument("--expr", default=None, help="SQL value expression")

    p = sub.add_parser("query")
    p.add_argument("root")
    p.add_argument("sql")

    p = sub.add_parser("history")
    p.add_argument("table_path")

    p = sub.add_parser("vacuum")
    p.add_argument("table_path")
    p.add_argument("--keep", type=int, default=2)
    # in-flight-writer grace: un-manifested files younger than this
    # are left alone (they may be a commit in progress); 0 = offline
    p.add_argument("--min-age", type=float, default=600.0)

    args = ap.parse_args(argv)

    from indexr_spark.sources.catalog import Catalog, TableSpec

    cat = Catalog(args.root) if hasattr(args, "root") else None

    if args.cmd == "create":
        with open(args.spec_json) as f:
            spec = TableSpec.from_json(f.read())
        cat.save(spec)
        print(f"created table {spec.name} ({len(spec.columns)} columns)")
        return 0

    if args.cmd == "tables":
        for t in cat.list_tables():
            print(t)
        return 0

    if args.cmd == "vacuum":  # filesystem-only, no session needed
        from indexr_spark.sources.snapshots import vacuum

        deleted = vacuum(
            args.table_path, keep_versions=args.keep, min_age_s=args.min_age
        )
        print(f"vacuumed {len(deleted)} files")
        return 0

    # remaining commands need a session; an injected one (tests,
    # embedding hosts) is left running, an own one is stopped on exit
    own_session = spark is None
    if own_session:
        from indexr_spark.session import get_spark

        spark = get_spark(app_name=f"indexr-cli-{args.cmd}")
    try:
        if args.cmd == "load-csv":
            from indexr_spark.sources.tools import csv_load

            spec = cat.load(args.table)
            n = csv_load(
                spark,
                args.csv_path,
                spec,
                cat.table_dir(args.table),
                delimiter=args.delimiter,
                header=args.header,
            )
            print(f"loaded {n} rows into {args.table}")
        elif args.cmd == "describe":
            from indexr_spark.sources.tools import describe_segments

            describe_segments(spark, cat.table_dir(args.table)).show(
                100, truncate=False
            )
        elif args.cmd == "index":
            counts = cat.build_indexes(spark, args.table)
            listed = ", ".join(f"{c} ({n} postings)" for c, n in counts.items())
            print(f"indexed columns: {listed or '(none flagged)'}")
        elif args.cmd == "compact":
            from indexr_spark.streaming.ingest import compact

            n = compact(spark, cat, args.table)
            print(f"compacted {n} rows into {args.table}")
        elif args.cmd == "update-column":
            import dataclasses

            from indexr_spark.sources.catalog import _SPARK_TO_SQL, ColumnSpec
            from indexr_spark.sources.snapshots import read_table
            from indexr_spark.sources.tools import update_column

            spec = cat.load(args.table)
            update_column(
                spark,
                cat.table_dir(args.table),
                args.mode,
                args.column,
                value_expr=args.expr,
                sort_by=spec.sort_by or None,
            )
            # keep the catalog spec in lockstep with the rewritten
            # data: reads project/union against the spec, so a stale
            # column list hides ADDCOL columns and breaks DELCOL reads
            result = read_table(spark, cat.table_dir(args.table))
            by_name = {c.name: c for c in spec.columns}
            new_cols = []
            for f in result.schema.fields:
                if f.name in by_name and args.mode != "ALTCOL":
                    new_cols.append(by_name[f.name])
                elif f.name in by_name:  # ALTCOL may change the type
                    old = by_name[f.name]
                    new_cols.append(
                        dataclasses.replace(
                            old, sql_type=_SPARK_TO_SQL[f.dataType.typeName()]
                        )
                        if f.name == args.column
                        else old
                    )
                else:
                    new_cols.append(
                        ColumnSpec(f.name, _SPARK_TO_SQL[f.dataType.typeName()])
                    )
            cat.save(
                dataclasses.replace(
                    spec,
                    columns=new_cols,
                    sort_by=[c for c in spec.sort_by if c != args.column]
                    if args.mode == "DELCOL"
                    else spec.sort_by,
                )
            )
            print(f"{args.mode} {args.column} on {args.table} committed")
        elif args.cmd == "query":
            cat.sql(spark, args.sql).show(100, truncate=False)
            for t, res in cat.last_prune.items():
                print(f"[prune] {t}: scanned {len(res.scan)}/{res.n_total} files")
        elif args.cmd == "history":
            from indexr_spark.sources.snapshots import snapshot_history

            snapshot_history(spark, args.table_path).orderBy("version").show(
                100, truncate=False
            )
    finally:
        if own_session:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
