"""Self-test of the benchmark: `python3 perfbench/run.py --selftest`.

Checks, without measuring anything:
  * BENCHMARK.json has the fields and limits the benchmark contract sets;
  * perfbench/METRICS.md documents every metric of BENCHMARK.json with the
    same unit and direction;
  * a smoke run (tiny inputs) of every workload, untraced and traced,
    passes its output checks and emits every metric of BENCHMARK.json
    with its unit (ingest_sync too, which BENCHMARK.json does not list);
  * the spans of each traced run nest (every parent exists and encloses
    its children) and every self time is >= 0;
  * `ext.dropped_docs` repeats exactly for one seed.
"""
import os
import re

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SLACK_MS = 2.0  # span times come from two clocks: the JVM's and Spark's events


def check_spec(spec, problems):
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(spec) != keys:
        problems.append(f"BENCHMARK.json keys {sorted(spec)} != {sorted(keys)}")
    if not 2 <= len(spec["workloads"]) <= 8:
        problems.append("2 to 8 workloads")
    if not 1 <= spec["run_seconds"] <= 60:
        problems.append("run_seconds out of 1..60")
    names = [w["name"] for w in spec["workloads"]] + \
        [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    for n in names:
        if not NAME.match(n):
            problems.append(f"bad name {n}")
    if len(set(names)) != len(names):
        problems.append("a name is used twice")
    for w in spec["workloads"]:
        if set(w) != {"name", "why"} or len(w["why"]) > 200 or "\n" in w["why"]:
            problems.append(f"workload {w['name']}: needs exactly a one-line why")
    for m in spec["end_to_end"]:
        if set(m) != {"name", "unit", "better", "bound"} or not 0 < m["bound"] <= 0.25:
            problems.append(f"end_to_end {m['name']}: keys or bound")
    for m in spec["per_layer"]:
        if set(m) != {"name", "unit", "better"}:
            problems.append(f"per_layer {m['name']}: keys")
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not UNIT.match(m["unit"]) or m["better"] not in ("higher", "lower"):
            problems.append(f"{m['name']}: unit or direction")
    if not any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in spec["end_to_end"]):
        problems.append("setup_s (s, lower) is missing")


def documented():
    """name -> (unit, better) from the metric tables of METRICS.md."""
    out = {}
    with open(os.path.join(BENCH_DIR, "METRICS.md")) as fh:
        for line in fh:
            cells = [c.strip() for c in line.strip().strip("|").split("|")]
            if len(cells) >= 3 and cells[0].startswith("`"):
                out[cells[0].strip("`")] = (cells[1].strip("`"), cells[2])
    return out


def check_docs(spec, problems):
    doc = documented()
    for m in spec["end_to_end"] + spec["per_layer"]:
        if doc.get(m["name"]) != (m["unit"], m["better"]):
            problems.append(f"METRICS.md: {m['name']} is {doc.get(m['name'])}, "
                            f"BENCHMARK.json says ({m['unit']}, {m['better']})")


def check_spans(record, problems):
    spans = record["detail"].get("spans", [])
    if not spans:
        problems.append(f"{record['workload']}: traced run recorded no spans")
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["end_ms"] < s["start_ms"]:
            problems.append(f"span {s['id']} ends before it starts")
        if s["parent"] == 0:
            continue
        p = by_id.get(s["parent"])
        if p is None:
            problems.append(f"span {s['id']} ({s['layer']}.{s['name']}): parent missing")
        elif s["start_ms"] < p["start_ms"] - SLACK_MS or s["end_ms"] > p["end_ms"] + SLACK_MS:
            problems.append(f"span {s['id']} ({s['layer']}.{s['name']}) is not inside "
                            f"its parent {p['id']} ({p['layer']}.{p['name']})")
    for sid, self_ms in record["detail"].get("self_ms", {}).items():
        if self_ms < 0:
            problems.append(f"span {sid}: self time {self_ms} < 0")


def main(one_run, parse, metric_spec, workloads):
    problems = []
    spec = metric_spec()
    check_spec(spec, problems)
    check_docs(spec, problems)
    dropped = []
    for w in workloads:
        for trace in (0, 1):
            record, code = one_run(parse(["--workload", w, "--seed", "7", "--seconds", "2",
                                          "--trace", str(trace), "--smoke"]))
            if code != 0:
                problems.append(f"{w} trace={trace}: output checks failed: "
                                f"{record['failures'][:3] + record['problems']}")
            if record["problems"]:
                problems.append(f"{w} trace={trace}: {record['problems']}")
            if trace:
                check_spans(record, problems)
                if w == "curate_text":
                    dropped.append(record["per_layer"]["ext.dropped_docs"]["value"])
    if "curate_text" in workloads:
        record, _ = one_run(parse(["--workload", "curate_text", "--seed", "7", "--seconds",
                                   "2", "--trace", "1", "--smoke"]))
        dropped.append(record["per_layer"]["ext.dropped_docs"]["value"])
        if len(set(dropped)) != 1:
            problems.append(f"ext.dropped_docs differs between runs of one seed: {dropped}")
    for p in problems:
        print(f"selftest: FAIL {p}")
    print(f"selftest: {'FAILED' if problems else 'ok'}")
    return 1 if problems else 0
