"""CLI entry point (reference: ./run → src/runners/run.py fire CLI).

Usage: python -m snowalert_spark.run <alerts|violations|all> [--store DIR]

The reference sequences: alert queries → suppressions → processor →
dispatcher (run.py:27-33); violations: queries → suppressions
(:62-64). Rules come from a python module exposing ``register(reg)``
(--rules), standing in for the warehouse ``rules`` schema.
"""

from __future__ import annotations

import argparse
import importlib

from snowalert_spark.rules import RuleRegistry
from snowalert_spark.runners import (
    alert_dispatcher,
    alert_processor,
    alert_queries,
    alert_suppressions,
    violation_queries,
)
from snowalert_spark.session import get_session
from snowalert_spark.store import ResultsStore


def run_alerts(spark, store, registry, from_ts=None, to_ts=None) -> None:
    alert_queries.main(spark, store, registry, from_ts=from_ts, to_ts=to_ts)
    alert_suppressions.main(spark, store, registry)
    alert_processor.main(spark, store, now=to_ts)
    alert_dispatcher.main(spark, store)


def run_violations(spark, store, registry) -> None:
    violation_queries.main(spark, store, registry)
    violation_queries.suppress(spark, store, registry)


def serve_webui(
    spark,
    registry,
    host: str = "127.0.0.1",
    port: int = 8000,
    secret: str | None = None,
    connector_modules: list[str] | None = None,
    serve: bool = True,
):
    """Serve the WebUI (reference: ``./run webui`` →
    src/webui/backend/webui/app.py): the single-page app shell
    everywhere + the JSON API under /api/ (the reference's React
    frontend analog). The sid secret
    comes from --secret or $SA_WEBUI_SECRET (empty = mutation
    endpoints fail closed, matching WebApi's auth gate)."""
    import importlib as _il
    import os
    from wsgiref.simple_server import make_server

    from snowalert_spark.webui import WebApi
    from snowalert_spark.webui_spa import WebSPA

    connectors = {}
    for path in connector_modules or ["snowalert_spark.sources.okta"]:
        mod = _il.import_module(path)
        if getattr(mod, "CONNECTION_OPTIONS", None) and callable(
            getattr(mod, "connect", None)
        ):
            connectors[path.rsplit(".", 1)[-1]] = mod
        else:
            # an explicitly-requested module that doesn't look like a
            # connector is a config error, not something to silently
            # drop from the UI (r11 advice)
            raise ValueError(
                f"connector module {path!r} lacks CONNECTION_OPTIONS or a "
                f"callable connect() — not a connector module"
            )
    api = WebApi(
        registry,
        secret=secret if secret is not None
        else os.environ.get("SA_WEBUI_SECRET", ""),
        spark=spark,
        connectors=connectors,
    )
    srv = make_server(host, port, WebSPA(api))
    print(f"webui listening on :{srv.server_port}")
    if serve:
        srv.serve_forever()
    return srv


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="snowalert-spark")
    p.add_argument("target", choices=["alerts", "violations", "all", "webui"])
    p.add_argument("--store", default="./results")
    p.add_argument(
        "--rules",
        default=None,
        help="python module exposing register(registry)",
    )
    p.add_argument(
        "--packs",
        default=None,
        help="comma-separated pack files (e.g. cis_aws_pack.sql,okta.sql) "
        "to register verbatim from the packs dir (SNOWALERT_PACKS_DIR)",
    )
    # window overrides (SA_ALERT_CUTOFF_MINUTES analog +
    # explicit backfill range)
    p.add_argument("--cutoff-minutes", type=int, default=None)
    p.add_argument("--from-ts", default=None, help="ISO timestamp")
    p.add_argument("--to-ts", default=None, help="ISO timestamp")
    # webui target options (reference: ./run webui)
    # loopback by default: binding all interfaces is an explicit
    # operator choice (--host ''), not something a demo run does
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--port", type=int, default=8000)
    p.add_argument("--secret", default=None,
                   help="sid secret (default $SA_WEBUI_SECRET)")
    p.add_argument("--connectors", default=None,
                   help="comma-separated connector module paths")
    args = p.parse_args(argv)

    import datetime as dt

    to_ts = dt.datetime.fromisoformat(args.to_ts) if args.to_ts else None
    if args.from_ts:
        from_ts = dt.datetime.fromisoformat(args.from_ts)
    elif args.cutoff_minutes:
        from_ts = (to_ts or dt.datetime.utcnow()) - dt.timedelta(
            minutes=args.cutoff_minutes
        )
    else:
        from_ts = None

    spark = get_session(app_name="snowalert_spark_run")
    store = ResultsStore(spark, args.store)
    registry = RuleRegistry()
    if args.rules:
        importlib.import_module(args.rules).register(registry)
    if args.packs:
        from snowalert_spark import packs as _packs

        for f in args.packs.split(","):
            f = f.strip()
            _packs.register_pack_rules(registry, f"{_packs.PACKS_DIR}/{f}")
            _packs.create_pack_data_views(spark, f"{_packs.PACKS_DIR}/{f}")

    if args.target == "webui":
        serve_webui(
            spark, registry, host=args.host, port=args.port,
            secret=args.secret,
            connector_modules=(
                [m.strip() for m in args.connectors.split(",") if m.strip()]
                if args.connectors else None
            ),
        )
        return 0
    if args.target in ("alerts", "all"):
        run_alerts(spark, store, registry, from_ts=from_ts, to_ts=to_ts)
    if args.target in ("violations", "all"):
        run_violations(spark, store, registry)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
