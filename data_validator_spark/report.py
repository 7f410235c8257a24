"""JSON + HTML reports and output sinks.

Parity: reference Reports.scala (JSON envelope), HTMLBits.scala/
ValidatorConfig.generateHTMLReport (HTML), IO.scala (filename with
append / pipe-to-program outputs), Emailer.scala (render_email builds
the message; actual SMTP delivery lives in emailer.py and is opt-in
via email.deliver — render-only remains the default/fallback).
"""

from __future__ import annotations

import html
import json
import os
import subprocess
import time
from typing import Any

from data_validator_spark.config import OutputSpec, ValidatorConfig


def build_report(
    config: ValidatorConfig, runners: list, failed: bool, spark: Any = None
) -> dict[str, Any]:
    """JSON envelope parity: reference ValidatorConfig.genJsonReport
    (numKeyCols/numErrorsToReport/email/detailedErrors/vars/varSubDict/
    failed/buildInfo/runtimeInfo/outputs/tables/events)."""
    import platform

    import pyspark

    runtime: dict[str, Any] = {}
    if spark is not None:
        sc = spark.sparkContext
        runtime = {
            "appId": sc.applicationId,
            "sparkVersion": spark.version,
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
        }
    return {
        "name": "data_validator_spark",
        "failed": failed,
        "timestamp": int(time.time() * 1000),
        "numKeyCols": config.num_key_cols,
        "numErrorsToReport": config.num_errors_to_report,
        "detailedErrors": config.detailed_errors,
        "email": (
            {
                "smtpHost": config.email.smtp_host,
                "subject": config.email.subject,
                "from": config.email.from_addr,
                "to": config.email.to,
            }
            if config.email
            else None
        ),
        "vars": config.var_specs,
        "varSubDict": config.var_sub_dict,
        "buildInfo": {
            "name": "data_validator_spark",
            "version": "0.1.0",
            "pythonVersion": platform.python_version(),
            "pysparkVersion": pyspark.__version__,
        },
        "runtimeInfo": runtime,
        "outputs": [
            {
                "filename": o.filename,
                "append": o.append,
                "pipe": o.pipe,
                "ignoreError": o.ignore_error,
            }
            for o in config.outputs
        ],
        "tables": [r.to_dict() for r in runners],
        "events": [],  # run-level events; per-table events live under tables
    }


def report_json(report: dict[str, Any]) -> str:
    return json.dumps(report, indent=2, default=str)


def _status_span(failed: bool) -> str:
    """Parity: HTMLBits.pass/fail colored status spans."""
    if failed:
        return '<span style="background-color:tomato">FAIL</span>'
    return '<span style="background-color:mediumseagreen">PASS</span>'


def report_html(report: dict[str, Any]) -> str:
    """Structured HTML render. Parity: HTMLBits +
    ValidatorConfig.generateHTMLReport / ValidatorTable.generateHTMLReport
    — per-table sections, one table of checks with colored PASS/FAIL
    status, failed events expanded beneath."""
    parts = [
        "<html><head><title>Validator Report</title>",
        "<style>table{border-collapse:collapse}td,th{border:1px solid #999;"
        "padding:4px 8px;text-align:left}</style></head><body>",
    ]
    parts.append(f"<h1>Data Validator: {_status_span(report['failed'])}</h1>")
    for t in report["tables"]:
        parts.append('<div class="validatorTable">')
        parts.append(f"<h2>{html.escape(str(t['table']))} — {_status_span(t['failed'])}</h2>")
        parts.append('<div id="validator_report">')
        parts.append(
            "<table><tr><th>check</th><th>column</th><th>status</th><th>details</th></tr>"
        )
        for c in t["checks"]:
            detail = {
                k: v for k, v in c.items() if k not in ("events", "type", "column", "failed")
            }
            parts.append(
                "<tr>"
                f"<td>{html.escape(str(c.get('type', '')))}</td>"
                f"<td>{html.escape(str(c.get('column', c.get('columns', ''))))}</td>"
                f"<td>{_status_span(c['failed'])}</td>"
                f"<td>{html.escape(json.dumps(detail, default=str))}</td>"
                "</tr>"
            )
        parts.append("</table>")
        failed_events = [
            e for c in t["checks"] if c["failed"] for e in c["events"] if e.get("failed")
        ]
        if failed_events:
            parts.append("<h3>Failed events</h3><table><tr><th>type</th><th>detail</th></tr>")
            for e in failed_events:
                detail = {k: v for k, v in e.items() if k not in ("type", "failed")}
                parts.append(
                    f"<tr><td>{html.escape(e['type'])}</td>"
                    f"<td>{html.escape(json.dumps(detail, default=str))}</td></tr>"
                )
            parts.append("</table>")
        parts.append("</div><hr></div>")
    parts.append("</body></html>")
    return "".join(parts)


# Parity: IO.scala filename scheme handling — `hdfs://` (or any
# URI scheme Hadoop knows) goes through the Hadoop FileSystem API;
# `local:///path` forces the local FS even when defaultFS is HDFS.
LOCAL_PREFIX = "local://"


def _split_scheme(filename: str) -> tuple[str, str]:
    """→ ('local', path) or ('hadoop', uri)."""
    if filename.startswith(LOCAL_PREFIX):
        return "local", filename[len(LOCAL_PREFIX) :]
    if "://" in filename:
        return "hadoop", filename
    return "local", filename


def check_output_target(out: OutputSpec, spark: Any = None) -> None:
    """Pre-flight check before any processing (reference IO.scala:
    verify writability / executability up front)."""
    if out.filename:
        kind, path = _split_scheme(out.filename)
        if kind == "hadoop":
            if spark is None:
                raise IOError(f"Remote output needs a SparkSession: {out.filename}")
            return  # existence/writability resolved by the FS at write time
        if os.path.isdir(path):
            raise IOError(f"Output file is a directory: {out.filename}")
        d = os.path.dirname(os.path.abspath(path)) or "."
        if not os.access(d, os.W_OK):
            raise IOError(f"Cannot write to output file: {out.filename}")
    elif out.pipe:
        prog = out.pipe.split()[0]
        if not (os.path.isfile(prog) and os.access(prog, os.X_OK)):
            raise IOError(f"Pipe program not executable: {out.pipe}")


def _hadoop_write(spark: Any, uri: str, text: str, append: bool) -> None:
    """Write via the Hadoop FileSystem API (hdfs://, s3a://, file://…).

    Parity: IO.scala writeHDFS/canAppendOrCreateHDFS. Local FS doesn't
    implement append(), so append there falls back to read+rewrite.
    """
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(uri)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    data = (text + "\n").encode()
    if append and fs.exists(path):
        try:
            stream = fs.append(path)
        except Exception:
            old = bytes(jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(fs.open(path)))
            data = old + data
            stream = fs.create(path, True)
    else:
        stream = fs.create(path, True)
    try:
        stream.write(data)
    finally:
        stream.close()


def write_output(out: OutputSpec, report: dict[str, Any], spark: Any = None) -> None:
    text = report_json(report)
    if out.filename:
        kind, path = _split_scheme(out.filename)
        if kind == "hadoop":
            if spark is None:
                raise IOError(f"Remote output needs a SparkSession: {out.filename}")
            _hadoop_write(spark, path, text, out.append)
            return
        mode = "a" if out.append else "w"
        with open(path, mode) as f:
            f.write(text)
            f.write("\n")
    elif out.pipe:
        proc = subprocess.run(out.pipe, shell=True, input=text, text=True)
        if proc.returncode != 0 and not out.ignore_error:
            raise IOError(f"Pipe program failed with {proc.returncode}: {out.pipe}")


def render_email(config: ValidatorConfig, report: dict[str, Any]) -> dict[str, str]:
    """Render the message the reference would email (Emailer.scala).
    Returns headers+body; transport is the caller's concern."""
    e = config.email
    if e is None:
        return {}
    return {
        "from": e.from_addr,
        "to": ", ".join(e.to),
        "cc": ", ".join(e.cc),
        "bcc": ", ".join(e.bcc),
        "subject": e.subject,
        "body": report_html(report),
    }
