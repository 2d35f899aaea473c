"""Command-line entry point mirroring the reference's CLI
(`migbq run|sync|check config.yml` — `[pub:H migbq/migbq.py]`,
SURVEY.md §3.1):

    python -m migbq_spark.app run   config.yml
    python -m migbq_spark.app sync  config.yml
    python -m migbq_spark.app check config.yml [--repair]

Prints a one-line JSON result per command so the tool is scriptable the
way migbq's exit codes + logs were.
"""

from __future__ import annotations

import argparse
import json
import sys

from migbq_spark.app.config import PipelineConfig
from migbq_spark.app.forwarder import Forwarder
from migbq_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="migbq-spark")
    ap.add_argument("command", choices=["run", "sync", "check"])
    ap.add_argument("config", help="YAML pipeline config (in:/out:/meta:)")
    ap.add_argument(
        "--repair",
        action="store_true",
        help="check only: re-forward mismatched ranges and dedup dest",
    )
    ap.add_argument(
        "--full-refresh",
        action="store_true",
        help="run only: drop destination tables before loading",
    )
    args = ap.parse_args(argv)

    cfg = PipelineConfig.load(args.config)
    fwd = Forwarder(get_spark(), cfg)

    if args.command == "run":
        result = {"run": fwd.run(full_refresh=args.full_refresh)}
    elif args.command == "sync":
        result = {"sync": fwd.sync()}
    else:
        # with --repair the reports are what repair found, taken before it ran
        result = {"check": {}}
        for t, rep in fwd.check(repair=args.repair).items():
            rows = rep.collect()
            result["check"][t] = {
                "ranges": len(rows),
                "mismatched": sum(r.mismatch for r in rows),
                "duplicates": sum(r.n_dup for r in rows),
            }
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
