#!/usr/bin/env python3
"""Record or compare per-layer benchmark artifacts.

    python3 perfbench/artifact.py record OUT.json [--seed 1] [--seconds 5] [--workloads W ...]
    python3 perfbench/artifact.py compare BASE.json NEW.json

``record`` runs each workload (default: all four) once untraced and once
traced with the same seed, and writes both results plus the tracing
overhead (traced ``pass_s`` minus untraced ``pass_s``) and the host's
CPU count and memory.  ``compare`` prints each metric of both artifacts
side by side, and refuses artifacts taken at different CPU counts.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import host_resources  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["summary"] = lines[:-1]
    return result


def record(path: str, workloads: list[str], seed: int, seconds: int) -> None:
    cpus, mem = host_resources()
    artifact = {
        "host": {"cpus": cpus, "mem_gb": round(mem / 2**30, 1)},
        "seed": seed,
        "seconds": seconds,
        "workloads": {},
    }
    for name in workloads:
        plain = run_once(name, seed, seconds, 0)
        traced = run_once(name, seed, seconds, 1)
        overhead = (
            traced["metrics"]["trace.pass_s"]["value"] - plain["metrics"]["pass_s"]["value"]
        )
        artifact["workloads"][name] = {
            "end_to_end": plain,
            "per_layer": traced,
            "tracing_overhead_s": overhead,
        }
        print(f"{name}: correct={plain['correct'] and traced['correct']} "
              f"tracing overhead {overhead:+.2f} s", file=sys.stderr)
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
        f.write("\n")


def compare(base_path: str, new_path: str) -> int:
    with open(base_path) as f:
        base = json.load(f)
    with open(new_path) as f:
        new = json.load(f)
    if base["host"]["cpus"] != new["host"]["cpus"]:
        print(
            f"refusing to compare: {base['host']['cpus']} vs {new['host']['cpus']} CPUs",
            file=sys.stderr,
        )
        return 2
    for name in sorted(set(base["workloads"]) & set(new["workloads"])):
        for part in ("end_to_end", "per_layer"):
            b = base["workloads"][name][part]["metrics"]
            n = new["workloads"][name][part]["metrics"]
            for metric in sorted(set(b) & set(n)):
                bv, nv = b[metric]["value"], n[metric]["value"]
                ratio = f"{nv / bv:7.3f}x" if bv else "      -"
                print(f"{name:16s} {metric:32s} {bv:12.4f} {nv:12.4f} {ratio} {n[metric]['unit']}")
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    rec = sub.add_parser("record")
    rec.add_argument("out")
    rec.add_argument("--workloads", nargs="+", default=sorted(WORKLOADS))
    rec.add_argument("--seed", type=int, default=1)
    rec.add_argument("--seconds", type=int, default=5)
    cmp_ = sub.add_parser("compare")
    cmp_.add_argument("base")
    cmp_.add_argument("new")
    args = p.parse_args(argv)
    if args.cmd == "record":
        record(args.out, args.workloads, args.seed, args.seconds)
        return 0
    return compare(args.base, args.new)


if __name__ == "__main__":
    sys.exit(main())
