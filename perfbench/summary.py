"""Trace summary: each layer's self time per workload, the op time no
layer accounts for, the per-op breakdown and the tracing overhead.

    python3 perfbench/summary.py            # every traced run in perfbench/_results

Reads the ``<workload>-s<seed>-t1.spans.jsonl`` span files and the
result records beside them. Layer self times are per measured pass,
median over passes. Tracing overhead is the traced run's ``pass_s``
minus the untraced run's, for the same workload and seed, when both
records exist.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.spans import LAYERS  # noqa: E402


def summarize(results_dir: str) -> list[str]:
    lines = []
    for path in sorted(glob.glob(os.path.join(results_dir, "*-t1.spans.jsonl"))):
        tag = os.path.basename(path)[: -len("-t1.spans.jsonl")]
        with open(os.path.join(results_dir, f"{tag}-t1.json")) as f:
            rec = json.load(f)
        with open(path) as f:
            spans = [json.loads(line) for line in f]
        measured = rec["passes"] - rec["measured_passes"]
        per_pass: dict[int, dict[str, float]] = {}
        for s in spans:
            if s["op"] is None:
                continue
            p = int(s["op"].split(".")[0][1:])
            if p < measured:
                continue
            d = per_pass.setdefault(p, dict.fromkeys((*LAYERS, "op_wall", "unattributed"), 0.0))
            if s["layer"] == "op":
                d["op_wall"] += s["end"] - s["start"]
                d["unattributed"] += s["self_s"]
            elif s["layer"] in d:
                d[s["layer"]] += s["self_s"]
        med = {k: statistics.median(d[k] for d in per_pass.values()) for k in next(iter(per_pass.values()))}
        lines.append(f"{tag}: {len(per_pass)} measured pass(es), op wall {med['op_wall']:.3f} s per pass")
        for k in (*LAYERS, "unattributed"):
            lines.append(f"  {k:<16}{med[k]:>9.3f} s  {100 * med[k] / med['op_wall']:>5.1f}%")
        detail = rec.get("per_layer_detail", {})
        ops = sorted({k.split(".", 2)[2] for k in detail if k.startswith("plan.build_s.")})
        for op in ops:
            lines.append(
                f"  op {op:<18} build {detail[f'plan.build_s.{op}']:>7.3f} s"
                f"  action {detail[f'exec.action_s.{op}']:>7.3f} s"
            )
        untraced = os.path.join(results_dir, f"{tag}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]["pass_s"]
            over = rec["end_to_end"]["pass_s"] - base
            lines.append(f"  tracing overhead {over:+.3f} s per pass ({100 * over / base:+.1f}% of untraced pass_s {base:.3f} s)")
        else:
            lines.append("  tracing overhead: no untraced run with this seed")
    return lines


def main() -> int:
    lines = summarize(os.path.join(HERE, "_results"))
    print("\n".join(lines) if lines else "no traced runs in perfbench/_results")
    return 0


if __name__ == "__main__":
    sys.exit(main())
