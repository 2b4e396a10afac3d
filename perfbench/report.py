"""Print the traced breakdown of each workload as markdown.

    python3 perfbench/report.py [--seed N]

Reads the run records in ``.perfbench_runs/``: for each workload, the
latest traced run (of seed N, if given) and the untraced runs of the
same seed. It prints the per-span self time and the per-layer metrics of the
traced run's measured window, the share of wall time the layer spans
cover, and the tracing overhead: the traced run's end-to-end figures
minus the median of the untraced runs'.
"""

from __future__ import annotations

import argparse
import json
import statistics
from pathlib import Path

from stats import self_times

ROOT = Path(__file__).resolve().parent.parent
RUNS = ROOT / ".perfbench_runs"
WORKLOADS = ("olap_mix", "nsl_pipeline")


def _records(workload: str, trace: int, seed: int | None) -> list[dict]:
    out = []
    for f in sorted(RUNS.glob(f"{workload}-s*-t{trace}-*.json")):
        rec = json.loads(f.read_text())
        if seed is None or rec["args"]["seed"] == seed:
            out.append(rec)
    return out


def _measured_span_table(rec: dict) -> dict[str, dict[str, float]]:
    """Calls and self time per operation of the measured window, by span name."""
    measured = set(rec["measured_ops"])
    n_ops = len(measured)
    selft = self_times(rec["spans"])
    table: dict[str, dict[str, float]] = {}
    for sp in rec["spans"]:
        if sp["op"] not in measured:
            continue
        row = table.setdefault(sp["name"], {"calls": 0.0, "self_s": 0.0})
        row["calls"] += 1 / n_ops
        row["self_s"] += selft[sp["id"]] / n_ops
    return table


def report(seed: int | None) -> str:
    lines = []
    for wl in WORKLOADS:
        traced = _records(wl, 1, seed)
        if not traced:
            continue
        rec = traced[-1]
        plain = _records(wl, 0, rec["args"]["seed"])
        lines.append(f"### {wl} (seed {rec['args']['seed']}, {rec['figures']['cycles']} measured cycle(s))\n")
        lines.append("Self time per operation of the measured window, by span:\n")
        lines.append("| span | calls/op | self s/op |")
        lines.append("|---|---:|---:|")
        for name, row in sorted(_measured_span_table(rec).items(), key=lambda kv: -kv[1]["self_s"]):
            lines.append(f"| `{name}` | {row['calls']:.2f} | {row['self_s']:.3f} |")
        lines.append("\nPer-layer metrics (per operation of the measured window; 0 = layer idle):\n")
        lines.append("| metric | value |")
        lines.append("|---|---:|")
        for k, v in rec["layers"].items():
            if v:
                lines.append(f"| `{k}` | {v:.6g} |")
        cov = rec["layers"]["trace.span_coverage_frac"]
        lines.append(f"\nLayer spans cover {100 * cov:.1f}% of the measured wall time; "
                     f"the unattributed {100 * (1 - cov):.1f}% is benchmark code between calls.\n")
        if plain:
            lines.append(f"Tracing overhead (traced minus the median of {len(plain)} untraced run(s) of this seed):\n")
            lines.append("| metric | untraced | traced | overhead |")
            lines.append("|---|---:|---:|---:|")
            for k, v in rec["e2e"].items():
                base = statistics.median(p["e2e"][k] for p in plain)
                lines.append(f"| `{k}` | {base:.4g} | {v:.4g} | {v - base:+.4g} ({100 * (v - base) / base:+.1f}%) |")
            lines.append("")
    return "\n".join(lines)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int)
    print(report(ap.parse_args().seed))


if __name__ == "__main__":
    main()
