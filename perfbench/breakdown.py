#!/usr/bin/env python3
"""Render the traced per-layer breakdown of one or more workloads as
Markdown, from result lines of `run.py` (the last line of its output).

    python3 perfbench/breakdown.py <workload>=<untraced.json>,<traced.json> ...

For each workload the untraced and the traced run should use the same
seed; the difference of their end-to-end metrics is the tracing overhead.
Per-pass layer figures are the medians over the warm passes, and the cold
pass's values beside them.
"""
import json
import sys

E2E = ["setup_s", "cold_s", "warm_s", "op_p50_ms", "op_p90_ms"]


def last_json(path):
    with open(path) as f:
        return json.loads(f.read().strip().splitlines()[-1])["metrics"]


def v(m, k):
    return m[k]["value"]


def table(rows, head):
    out = ["| " + " | ".join(head) + " |", "|" + "---|" * len(head)]
    out += ["| " + " | ".join(str(c) for c in r) + " |" for r in rows]
    return "\n".join(out)


def fmt(x):
    if x == int(x) and abs(x) < 1e6:
        return str(int(x))
    return f"{x:.1f}" if abs(x) >= 10 else f"{x:.3f}"


def workload_section(name, plain, traced):
    lines = [f"## {name}", ""]
    lines.append(f"Warm passes: {fmt(v(traced, 'trace.warm_passes'))}, "
                 f"warm op samples: {fmt(v(traced, 'trace.op_samples'))}, "
                 f"1-minute load at start: {fmt(v(traced, 'host.load1'))}.")
    lines.append("")
    rows = []
    for pre, label in (("", "warm pass (median)"), ("cold.", "cold pass")):
        op = v(traced, pre + "ops.fn_ms") + v(traced, pre + "ops.action_ms")
        plan = sum(v(traced, pre + k) for k in
                   ("plan.analysis_ms", "plan.optimizer_ms", "plan.physical_ms"))
        drv = v(traced, pre + "sched.driver_only_ms")
        rows.append([label, fmt(op), fmt(plan), fmt(drv - plan), fmt(op - drv),
                     fmt(v(traced, pre + "sched.task_wait_ms")),
                     fmt(v(traced, pre + "exec.task_ms")),
                     fmt(v(traced, pre + "exec.core_util")),
                     fmt(v(traced, pre + "codegen.compile_ms"))])
    lines.append("Op wall time of one pass, split by layer (ms). Planning is "
                 "the Catalyst analysis, optimizer and physical-planning time "
                 "of the pass's queries; driver-only is op time with no Spark "
                 "job running, planning included; task wait and task run are "
                 "sums over tasks, which run on up to nproc cores at once.")
    lines.append("")
    lines.append(table(rows, ["pass", "op wall", "planning", "other driver-only",
                              "job running", "task wait (sum)", "task run (sum)",
                              "core util", "codegen compile"]))
    lines.append("")
    counts = ["plan.queries", "sched.jobs", "sched.stages", "sched.tasks",
              "codegen.compiles", "plan.exchanges", "plan.global_windows",
              "plan.nested_loop_joins", "plan.codegen_fallbacks",
              "memo.block_writes", "memo.block_write_mb", "memo.artifact_mb"]
    lines.append("Counts per pass:")
    lines.append("")
    lines.append(table([[k, fmt(v(traced, k)), fmt(v(traced, "cold." + k))] for k in counts],
                       ["metric", "warm pass", "cold pass"]))
    lines.append("")
    mods = sorted(k for k in traced if k.startswith("ops.") and k.endswith("_ms")
                  and k not in ("ops.fn_ms", "ops.action_ms")
                  and (v(traced, k) or v(traced, "cold." + k)))
    lines.append("Op time by module (ms):")
    lines.append("")
    lines.append(table([[k[4:-3], fmt(v(traced, k)), fmt(v(traced, "cold." + k))] for k in mods],
                       ["module", "warm pass", "cold pass"]))
    lines.append("")
    lines.append("Run-level: " + ", ".join(
        f"{k} {fmt(v(traced, k))}" for k in
        ("session.start_ms", "tables.resolve_ms", "memo.peak_storage_mb",
         "memo.leaked_mb")) + ".")
    lines.append("")
    lines.append("Tracing overhead (traced minus untraced, same seed):")
    lines.append("")
    lines.append(table([[k, fmt(v(plain, k)), fmt(v(traced, "traced." + k)),
                         fmt(v(traced, "traced." + k) - v(plain, k))] for k in E2E],
                       ["metric", "untraced", "traced", "overhead"]))
    lines.append("")
    return "\n".join(lines)


def main(args):
    print("# Traced per-layer breakdown\n")
    for a in args:
        name, files = a.split("=", 1)
        plain, traced = files.split(",")
        print(workload_section(name, last_json(plain), last_json(traced)))


if __name__ == "__main__":
    main(sys.argv[1:])
