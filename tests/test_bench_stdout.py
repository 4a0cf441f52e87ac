"""Contract test for bench.py's single printed JSON line (r13 verdict #1).

r13's shed tier dropped 26 of 46 per-query timings from the printed line
(`queries_truncated_to_slowest`) when the retry stamp pushed it over the
stdout budget; the driver's round-over-round comparison read the missing
entries as dropped queries. The new contract: the printed line ALWAYS
carries every query entry; only metadata (machine stamp detail, sub-bench
sections, sf1 per-query breakdown) may be shed to the detail file.
"""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_spec = importlib.util.spec_from_file_location("benchmod", REPO / "bench.py")
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def _doc(n_queries, with_retry=True, with_warning=False):
    # name lengths mirror the real HEADLINE list: the r13 46-entry queries
    # dict serializes to 1306 chars, ~28 chars/entry
    queries = {
        f"q{i:02d}_headline_entry_{i % 7}": round(0.5 + i * 0.071, 3)
        for i in range(n_queries)
    }
    machine = {
        "loadavg": [1.58, 5.11, 4.26],
        "boot_id": "c30e84fa-1369-42d0-a4e8-3380bd0d69c9",
        "cpu0_khz": 3000000,
        "cpu_micro_sec": 0.4392,
        "cpu_micro_work": "md5_256MiB_1thread",
    }
    if with_retry:
        machine = dict(machine)
        machine["retry_of"] = dict(machine)
        machine["retried_after_sec"] = 90.0
    doc = {
        "metric": "headline_queries_total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "skew": {"a": 1.0, "b": 2.0},
        "pagerank_iter": {"sf": [0.1] * 8, "sf1": [0.5] * 8},
        "cardinality": {"x": 1},
        "incremental_dedup": {"probe": 1.0, "batch": 2.0, "detail": "y" * 200},
        "incremental_semdedup": {"probe": 1.0, "batch": 2.0},
        "substring_store": {"probe": 1.0, "batch": 2.0, "note": "z" * 200},
        "machine": machine,
        "machine_post": machine,
        "sf1": {
            "total": 104.7,
            "queries": {k: v * 3 for k, v in queries.items()},
            "semdedup_salt": {
                "unsalted": 12.3,
                "salted": 6.9,
                "salt_cell": 256,
                "salt_b": 8,
            },
        },
    }
    if with_warning:
        doc["warning"] = (
            "contended run: pre-stamp loadavg 5.11 > 2.0 after a 90s "
            "delay-and-retry; per-entry times carry an entry-independent "
            "contention band - compare against the quiet BENCH_local snapshot"
        )
    return doc


def test_all_queries_survive_at_headline_scale():
    # 46 = the current HEADLINE count; the r13 failure mode was exactly here
    doc = _doc(46, with_retry=True)
    line = bench.slim_for_stdout(doc, "BENCH_detail.json")
    parsed = json.loads(line)
    assert len(line) <= 1800, f"printed line {len(line)} chars over budget"
    assert len(parsed["queries"]) == 46
    assert "queries_truncated_to_slowest" not in parsed
    assert parsed["value"] == doc["value"]
    # retry survives as a flag; the full stamp lives in the detail file
    assert parsed["machine"].get("retried") is True
    assert "retry_of" not in parsed["machine"]


def test_warning_and_extra_entries_never_shed_queries():
    doc = _doc(52, with_retry=True, with_warning=True)
    line = bench.slim_for_stdout(doc, "BENCH_detail.json")
    parsed = json.loads(line)
    assert len(parsed["queries"]) == 52
    assert "queries_truncated_to_slowest" not in parsed
    assert "warning" in parsed  # the contended marker itself survives


def test_small_doc_passes_through_verbatim():
    doc = _doc(5, with_retry=False)
    del doc["sf1"]["queries"]
    doc["queries"] = dict(list(doc["queries"].items())[:5])
    line = bench.slim_for_stdout(doc, "BENCH_detail.json")
    assert json.loads(line) == json.loads(json.dumps(doc))


def test_bench_source_has_no_query_shed_path():
    # the old tier is gone for good: nothing in bench.py may slice or
    # truncate the timings dict on the stdout path
    src = (REPO / "bench.py").read_text()
    assert "queries_truncated_to_slowest" not in src.replace(
        "`queries_truncated_to_slowest`", ""
    )


def test_last_shed_tier_keeps_cpu_micro_sec_and_warns_on_stderr(capsys):
    # 70 entries overflow the budget even after every metadata tier: the
    # line still carries every query and the cross-round normalizer, and
    # the overflow is reported on stderr, never as a second stdout line
    doc = _doc(70, with_retry=True, with_warning=True)
    line = bench.slim_for_stdout(doc, "BENCH_detail.json")
    parsed = json.loads(line)
    assert len(line) > 1800
    assert len(parsed["queries"]) == 70
    assert parsed["machine"] == {
        "loadavg": [1.58, 5.11, 4.26],
        "cpu_micro_sec": 0.4392,
        "retried": True,
    }
    out = capsys.readouterr()
    assert out.out == ""
    assert "over the 1800-char budget" in out.err
    assert str(len(line)) in out.err


def test_line_within_budget_warns_nothing(capsys):
    line = bench.slim_for_stdout(_doc(46, with_retry=True), "BENCH_detail.json")
    assert len(line) <= 1800
    assert capsys.readouterr() == ("", "")
