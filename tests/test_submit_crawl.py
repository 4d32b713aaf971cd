"""In-process smoke test of the spark-submit entry (tools/submit_crawl.py)."""

import importlib.util
import json
import os


def test_submit_crawl_demo_one_round(spark, tmp_path, capsys):
    path = os.path.join(os.path.dirname(__file__), "..", "tools", "submit_crawl.py")
    spec = importlib.util.spec_from_file_location("submit_crawl", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    try:
        argv = ["--demo", "--store", str(tmp_path / "store"), "--rounds", "1"]
        assert tool.main(argv) == 0
    finally:
        spark.sparkContext.setLogLevel("ERROR")  # the tool sets WARN
    out = capsys.readouterr().out.splitlines()
    events = [json.loads(line) for line in out if line.startswith("{")]
    assert [e["event"] for e in events] == ["seeded", "round", "done"]
    assert events[-1]["rounds_ran"] == 1 and events[-1]["total_popped"] > 0
