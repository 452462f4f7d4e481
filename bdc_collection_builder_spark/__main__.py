"""Command-line entry point (`python -m bdc_collection_builder_spark`).

The reference ships a Click CLI whose smoke tests are its whole test
suite (tests/test_cli.py:18-29: the group and module entry points exit
0); this mirrors that surface over the engine — list the query
registry, run one query against a scale-factor directory, or time the
headline suite.
"""

from __future__ import annotations

import argparse
import sys
from contextlib import contextmanager


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="bdc_collection_builder_spark",
        description="PySpark-native collection-builder analytics engine",
    )
    sub = p.add_subparsers(dest="command")

    sub.add_parser("list-queries", help="print the query registry")

    run = sub.add_parser("run", help="run one registered query")
    run.add_argument("name", help="query name (see list-queries)")
    run.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    run.add_argument("--limit", type=int, default=20,
                     help="rows to show (0 = count only)")

    # provider administration — reference cli.py:44-175 surface
    cp = sub.add_parser("create-provider",
                        help="create a data-provider definition")
    cp.add_argument("--store", required=True, help="catalog store root dir")
    cp.add_argument("-n", "--name", required=True)
    cp.add_argument("--driver-name", required=True,
                    help="collector driver name")
    cp.add_argument("-d", "--description")
    cp.add_argument("-u", "--url")
    cp.add_argument("--username")
    cp.add_argument("--password")
    cp.add_argument("--credentials", help="JSON credentials")

    lp = sub.add_parser("load-providers",
                        help="load provider JSON definitions")
    lp.add_argument("--store", required=True)
    lp.add_argument("-i", "--ifile", help="single provider JSON file")
    lp.add_argument("--from-dir", help="directory of provider *.json")
    lp.add_argument("--update", action="store_true",
                    help="update entries that already exist")
    lp.add_argument("-v", "--verbose", action="store_true")

    sp = sub.add_parser("set-provider",
                        help="attach/detach a provider to a collection")
    sp.add_argument("--store", required=True)
    sp.add_argument("-c", "--collection", required=True, type=int,
                    help="collection id")
    sp.add_argument("--provider", required=True, help="provider name")
    sp.add_argument("--priority", type=int, default=1,
                    help="priority order, high priority near 0")
    sp.add_argument("--disable", action="store_true")
    sp.add_argument("--remove", action="store_true")

    ov = sub.add_parser("overview",
                        help="describe a collection incl. provider order")
    ov.add_argument("--store", required=True)
    ov.add_argument("-c", "--collection", required=True, type=int)

    # catalog row maintenance — the store's Delta-style DELETE/UPDATE
    dr = sub.add_parser("delete-rows",
                        help="DELETE FROM <table> WHERE <predicate>")
    dr.add_argument("--store", required=True)
    dr.add_argument("-t", "--table", required=True)
    dr.add_argument("-w", "--where", required=True,
                    help="SQL predicate; only TRUE rows are removed")

    dk = sub.add_parser("delete-keys",
                        help="DELETE rows whose key tuples appear in a "
                             "parquet key file (anti-join MERGE — for "
                             "erasure batches too large for a "
                             "predicate)")
    dk.add_argument("--store", required=True)
    dk.add_argument("-t", "--table", required=True)
    dk.add_argument("--keys", required=True,
                    help="parquet path holding the doomed key tuples")
    dk.add_argument("--key-cols", default="",
                    help="comma-separated key columns "
                         "(default: the table's merge keys)")

    vc = sub.add_parser("vacuum",
                        help="expire old snapshots NOW (the erasure "
                             "completion step — prior generations "
                             "still hold deleted rows until vacuumed)")
    vc.add_argument("--store", required=True)
    vc.add_argument("-t", "--table", required=True)
    vc.add_argument("--keep-last", type=int, default=1,
                    help="retained generations per table/partition "
                         "(default 1 = current only)")

    ur = sub.add_parser("update-rows",
                        help="UPDATE <table> SET col=expr WHERE <predicate>")
    ur.add_argument("--store", required=True)
    ur.add_argument("-t", "--table", required=True)
    ur.add_argument("-w", "--where", required=True)
    ur.add_argument("--set", action="append", required=True,
                    metavar="COL=SQL_EXPR", dest="assignments",
                    help="assignment, repeatable")

    # declarative constraints — the reference manages these through
    # alembic migrations (06fab6583881_activities.py); here they are
    # store admin commands
    sc = sub.add_parser("set-constraints",
                        help="declare table constraints "
                             "(validates existing rows first)")
    sc.add_argument("--store", required=True)
    sc.add_argument("-t", "--table", required=True)
    sc.add_argument("--not-null", default="",
                    help="comma-separated column names")
    sc.add_argument("--unique", action="append", default=[],
                    metavar="COL[,COL...]",
                    help="unique key (repeatable; NULL keys exempt)")
    sc.add_argument("--check", action="append", default=[],
                    metavar="SQL_EXPR",
                    help="CHECK predicate (repeatable; violation iff "
                         "FALSE, NULL passes)")
    sc.add_argument("--fk", action="append", default=[],
                    metavar="COLS->TABLE.COLS[:cascade]",
                    help="foreign key, e.g. "
                         "'collection_id->collections.id' or "
                         "'provider_id->providers.id:cascade'")

    shc = sub.add_parser("show-constraints",
                         help="print a table's declared constraints")
    shc.add_argument("--store", required=True)
    shc.add_argument("-t", "--table", required=True)

    return p


def _parse_fk(spec: str) -> dict:
    """``cols->ref_table.ref_cols[:cascade]`` -> foreign-key dict."""
    on_delete = "restrict"
    if spec.endswith(":cascade"):
        spec, on_delete = spec[: -len(":cascade")], "cascade"
    elif spec.endswith(":restrict"):
        spec = spec[: -len(":restrict")]
    left, _, right = spec.partition("->")
    ref_table, _, ref_cols = right.partition(".")
    if not (left and ref_table and ref_cols):
        raise ValueError(
            f"bad --fk (need COLS->TABLE.COLS[:cascade]): {spec!r}")
    return {
        "columns": [c.strip() for c in left.split(",")],
        "ref_table": ref_table.strip(),
        "ref_columns": [c.strip() for c in ref_cols.split(",")],
        "on_delete": on_delete,
    }


def _engine_for(store_root: str):
    from bdc_collection_builder_spark.catalog.store import CatalogStore
    from bdc_collection_builder_spark.engine import CollectionBuilderEngine
    from bdc_collection_builder_spark.session import get_spark

    spark = get_spark("cli-admin")
    return CollectionBuilderEngine(spark, CatalogStore(spark, store_root)), spark


@contextmanager
def _engine(store_root: str):
    """An engine over the store at ``store_root``; its Spark session
    stops when the block exits."""
    engine, spark = _engine_for(store_root)
    try:
        yield engine
    finally:
        spark.stop()


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.command is None:
        build_parser().print_help()
        return 0

    from bdc_collection_builder_spark.plans.registry import (
        QUERY_REGISTRY,
        all_queries,
    )

    all_queries()
    if args.command == "list-queries":
        for name, qd in sorted(QUERY_REGISTRY.items()):
            kind = "oracle" if qd.oracle else "rows-only"
            print(f"{name}\t{kind}\t{qd.description}")
        return 0

    if args.command == "run":
        if args.name not in QUERY_REGISTRY:
            print(f"unknown query: {args.name}", file=sys.stderr)
            return 2
        from bdc_collection_builder_spark.session import get_spark

        spark = get_spark("cli")
        df = QUERY_REGISTRY[args.name].spark_fn(spark, args.sf_dir)
        # persist so show + count execute the pipeline once, not twice
        df.persist()
        try:
            if args.limit:
                df.show(args.limit, truncate=False)
            print(f"rows: {df.count()}")
        finally:
            df.unpersist()
            spark.stop()
        return 0

    if args.command == "create-provider":
        # cli.py:53-56 — at least one credential form is required
        if not (args.username or args.password or args.credentials):
            print("No credential set. Use username/password or credentials.",
                  file=sys.stderr)
            return 2
        credentials = (args.credentials if args.credentials else
                       {"username": args.username, "password": args.password})
        with _engine(args.store) as engine:
            created = engine.create_provider(
                args.name, driver_name=args.driver_name,
                description=args.description, url=args.url,
                credentials=credentials)
            print(f"Provider {args.name} "
                  f"{'created' if created else 'skipped.'}")
        return 0

    if args.command == "load-providers":
        import json
        from pathlib import Path

        entries = []
        if args.ifile:
            entries.append(Path(args.ifile))
        elif args.from_dir:
            entries.extend(sorted(Path(args.from_dir).glob("*.json")))
        else:
            print("Missing --ifile or --from-dir parameter.",
                  file=sys.stderr)
            return 2
        with _engine(args.store) as engine:
            for entry in entries:
                data = json.loads(entry.read_text())
                credentials = data.pop("credentials", {})
                created = engine.create_provider(
                    update=args.update, credentials=credentials, **data)
                msg = ("created" if created
                       else "updated" if args.update else "skipped")
                print(f"Provider {data['name']} {msg}")
        return 0

    if args.command == "set-provider":
        with _engine(args.store) as engine:
            engine.set_provider(
                args.collection, args.provider, priority=args.priority,
                disable=args.disable, remove=args.remove)
            verb = "removed" if args.remove else "updated"
            print(f"Collection Provider {args.collection} {verb}")
        return 0

    if args.command == "delete-rows":
        from bdc_collection_builder_spark.catalog.store import (
            ConstraintViolation,
        )

        with _engine(args.store) as engine:
            try:
                before = engine.store.read(args.table).count()
                engine.store.delete_where(args.table, args.where)
                after = engine.store.read(args.table).count()
                print(f"Deleted {before - after} row(s) from {args.table}")
            except ConstraintViolation as exc:
                # the DB's FK error at the prompt: message + nonzero exit
                print(str(exc), file=sys.stderr)
                return 1
        return 0

    if args.command == "delete-keys":
        from bdc_collection_builder_spark.catalog.store import (
            ConstraintViolation,
        )

        with _engine(args.store) as engine:
            try:
                keys = engine.spark.read.parquet(args.keys)
                key_cols = [c.strip() for c in args.key_cols.split(",")
                            if c.strip()] or None
                before = engine.store.read(args.table).count()
                engine.store.delete_keys(args.table, keys, key_cols)
                after = engine.store.read(args.table).count()
                print(f"Deleted {before - after} row(s) from {args.table}")
            except ConstraintViolation as exc:
                print(str(exc), file=sys.stderr)
                return 1
        return 0

    if args.command == "vacuum":
        with _engine(args.store) as engine:
            try:
                removed = engine.store.vacuum(args.table,
                                              keep_last=args.keep_last)
                print(f"Vacuumed {len(removed)} generation(s) from "
                      f"{args.table}")
            except ValueError as exc:
                print(str(exc), file=sys.stderr)
                return 2
        return 0

    if args.command == "update-rows":
        assignments = {}
        for item in args.assignments:
            if "=" not in item:
                print(f"bad --set (need COL=SQL_EXPR): {item}",
                      file=sys.stderr)
                return 2
            col, expr = item.split("=", 1)
            assignments[col.strip()] = expr
        with _engine(args.store) as engine:
            engine.store.update_where(args.table, args.where, assignments)
            print(f"Updated {args.table} "
                  f"({', '.join(assignments)}) where {args.where}")
        return 0

    if args.command == "set-constraints":
        try:
            fks = [_parse_fk(s) for s in args.fk]
        except ValueError as exc:
            print(str(exc), file=sys.stderr)
            return 2
        with _engine(args.store) as engine:
            try:
                engine.store.set_constraints(
                    args.table,
                    not_null=[c.strip() for c in args.not_null.split(",")
                              if c.strip()],
                    unique=[[c.strip() for c in u.split(",")]
                            for u in args.unique],
                    check=args.check,
                    foreign_keys=fks)
                print(f"Constraints set on {args.table}")
            except Exception as exc:  # violation or unknown column
                print(str(exc), file=sys.stderr)
                return 1
        return 0

    if args.command == "show-constraints":
        import json

        with _engine(args.store) as engine:
            print(json.dumps(engine.store.constraints(args.table),
                             indent=2, sort_keys=True))
        return 0

    if args.command == "overview":
        with _engine(args.store) as engine:
            info = engine.collection_overview(args.collection)
            print(f"Collection {info.get('identifier') or info['name']}")
            for prop in ("title", "name", "version", "collection_type"):
                print(f"-> {prop}: {info.get(prop)}")
            print("-> Providers:")
            for entry in info["providers"]:
                print(f"  - {entry['name']}, driver={entry['driver']}, "
                      f"priority={entry['priority']}, "
                      f"active={entry['active']}")
        return 0

    return 0


if __name__ == "__main__":
    raise SystemExit(main())
