#!/usr/bin/env python3
"""Per-layer table of traced run records, as markdown.

    python3 perfbench/tools/trace_table.py .bench_build/runs/*-trace1/record.json

One column per record (workload/seed), one row per per-layer metric that
is non-zero in at least one record, then the self time per span layer.
"""
import json
import sys


def fmt(v):
    if v is None:
        return "—"
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main(paths):
    recs = [json.load(open(p)) for p in paths]
    heads = [f"{r['workload']} (seed {r['seed']})" for r in recs]
    print("| metric | " + " | ".join(heads) + " |")
    print("|---|" + "---|" * len(recs))
    names = sorted({k for r in recs for k, v in r["per_layer"].items() if v})
    for n in names:
        print(f"| `{n}` | " + " | ".join(fmt(r["per_layer"].get(n)) for r in recs) + " |")
    layers = sorted({k for r in recs for k in r["detail"] if k.startswith("self_ms_per_op.")})
    for n in layers:
        print(f"| self time `{n[len('self_ms_per_op.'):]}` ms/op | " +
              " | ".join(fmt(r["detail"].get(n)) for r in recs) + " |")
    print("| traced ops | " + " | ".join(str(sum(o["traced"] for o in r["ops"])) for r in recs) + " |")
    print("| host loadavg before/after | " + " | ".join(
        f"{r['host']['before']['loadavg']}/{r['host']['after']['loadavg']}" for r in recs) + " |")
    print("| canary s before/after | " + " | ".join(
        f"{r['host']['before']['canary_s']:.3f}/{r['host']['after']['canary_s']:.3f}" for r in recs) + " |")
    print("| host steal share | " + " | ".join(
        fmt(r["host"].get("steal_share")) for r in recs) + " |")
    print("| commit | " + " | ".join(r.get("git_commit", "unknown")[:12] for r in recs) + " |")


if __name__ == "__main__":
    main(sys.argv[1:])
