"""tools/probe.py's SQL-node metric reader: pure dict logic over the
UI REST API's node records, no Spark needed."""

from __future__ import annotations

import importlib.util
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _probe():
    spec = importlib.util.spec_from_file_location("probe", ROOT / "tools" / "probe.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_node_metrics_reads_any_number_of_metrics():
    node_metrics = _probe().node_metrics
    assert node_metrics({"nodeId": 0, "nodeName": "WholeStageCodegen"}) == {}
    assert node_metrics({"metrics": [{"name": "number of output rows", "value": "7"}]}) == {
        "number of output rows": "7"
    }
    three = {
        "metrics": [
            {"name": "number of output rows", "value": "10"},
            {"name": "scan time", "value": "1 ms"},
            {"name": "number of files read", "value": "3"},
        ]
    }
    assert node_metrics(three) == {"number of output rows": "10", "scan time": "1 ms"}
