"""CLI entry point.

Parity: reference CliOptionParser.scala / Main.scala:
  --config (required), --jsonReport, --htmlReport, --vars k1=v1,...,
  --exitErrorOnFail true|false, --emailOnPass true|false, --verbose.
Plus --checkConfig: the parse-only mode of the reference's separate
ConfigParser entrypoint (README 'Configuration parser check').
Run as: python -m data_validator_spark.cli --config config.yaml
"""

from __future__ import annotations

import argparse
import logging
import sys
from typing import Optional

from data_validator_spark import report as report_mod
from data_validator_spark.config import config_faults, load_config, main as config_main, report_faults
from data_validator_spark.runner import run_config


def parse_vars(s: Optional[str]) -> dict[str, str]:
    if not s:
        return {}
    out = {}
    for pair in s.split(","):
        if "=" not in pair:
            raise ValueError(f"Bad --vars entry: {pair!r}")
        k, v = pair.split("=", 1)
        out[k.strip()] = v
    return out


def str2bool(s: str) -> bool:
    return s.strip().lower() in ("true", "1", "yes")


def main(argv: Optional[list[str]] = None) -> int:
    p = argparse.ArgumentParser(prog="data-validator-spark")
    p.add_argument("--config", required=True)
    p.add_argument("--jsonReport")
    p.add_argument("--htmlReport")
    p.add_argument("--vars", help="k1=v1,k2=v2,...")
    p.add_argument("--exitErrorOnFail", type=str2bool, default=True)
    p.add_argument("--emailOnPass", type=str2bool, default=False)
    p.add_argument(
        "--checkConfig",
        action="store_true",
        help="parse-only config check: no Spark session, no variable "
        "resolution, no checks run (reference ConfigParser entrypoint); "
        "exit 0 if the config decodes, 1 otherwise",
    )
    p.add_argument("--verbose", action="store_true")
    p.add_argument("--version", action="version", version="data-validator-spark 0.1.0")
    args = p.parse_args(argv)

    logging.basicConfig(level=logging.DEBUG if args.verbose else logging.INFO)

    if args.checkConfig:
        return config_main([args.config])

    try:
        cli_vars = parse_vars(args.vars)
    except ValueError as e:
        p.error(str(e))  # exit 2, before the JVM starts
    if report_faults(config_faults(args.config)):  # the --checkConfig walk, before the JVM
        return 1

    from data_validator_spark.session import build_session

    spark = build_session("data-validator-spark")
    try:
        try:
            config = load_config(args.config, spark, cli_vars)
            for out in config.outputs:
                report_mod.check_output_target(out, spark)
        except (ValueError, OSError) as e:
            # a fault in a value a variable supplied, or an output that
            # cannot be written
            return report_faults(str(e).splitlines())

        report = run_config(spark, config)
        failed = report["failed"]

        if args.jsonReport:
            with open(args.jsonReport, "w") as f:
                f.write(report_mod.report_json(report))
        if args.htmlReport:
            with open(args.htmlReport, "w") as f:
                f.write(report_mod.report_html(report))
        for out in config.outputs:
            report_mod.write_output(out, report, spark)

        if config.email and (failed or args.emailOnPass):
            msg = report_mod.render_email(config, report)
            if config.email.deliver:
                from data_validator_spark.emailer import send_report_email

                if send_report_email(config, msg):
                    # parity: a send failure is logged, never fatal
                    # (Emailer.sendMessage's boolean flag); the
                    # rendered message stays available via the report
                    logging.error(
                        "email delivery failed; rendered message retained: subject=%s",
                        msg.get("subject"),
                    )
                else:
                    logging.info("email delivered: subject=%s", msg.get("subject"))
            else:
                logging.info(
                    "email rendered (delivery disabled; set email.deliver): subject=%s",
                    msg.get("subject"),
                )

        # Parity: Main.scala exit semantics.
        print(f"DATA_VALIDATOR_STATUS={'FAIL' if failed else 'PASS'}")
        if failed and args.exitErrorOnFail:
            return 1
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
