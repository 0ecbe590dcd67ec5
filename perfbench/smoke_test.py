#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from the repository root.

    python3 perfbench/smoke_test.py            # every workload, both modes, tiny size
    python3 perfbench/smoke_test.py --stages   # traced runs at full size: stage checks

The smoke mode asserts that each run succeeds, is correct, and emits exactly
the metrics BENCHMARK.json names, each with its unit. The stage mode checks
that the labelled stage walls partition each operation's wall, that the
bucket-checkpoint share is larger on crawl_batch than on dup_chains and the
CC + assign share larger on dup_chains, and prints the tracing overhead.
"""
import json
import subprocess
import sys

TINY_DOCS = {"crawl_batch": 300, "dup_chains": 300}


def run(spec, workload, trace, docs=None, seconds=1, seed=1):
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace)]
    if docs:
        cmd += ["--docs", str(docs)]
    p = subprocess.run(cmd, capture_output=True, text=True)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"], result.keys()
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
    return result["metrics"]


def smoke(spec):
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            metrics = run(spec, w["name"], trace, docs=TINY_DOCS[w["name"]])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in metrics.items()}
            assert got == want, f"{w['name']} trace={trace}: " \
                f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, " \
                f"units {[(k, got[k], want[k]) for k in got if k in want and got[k] != want[k]]}"
            bad = [k for k, v in metrics.items() if not isinstance(v["value"], (int, float))]
            assert not bad, f"{w['name']} trace={trace}: non-numeric {bad}"
            print(f"ok  {w['name']:12s} trace={trace}  {len(metrics)} metrics")


def stages(spec):
    m = {w: run(spec, w, 1, seconds=spec["run_seconds"]) for w in ("crawl_batch", "dup_chains")}
    v = {w: {k: x["value"] for k, x in ms.items()} for w, ms in m.items()}
    for w, x in v.items():
        ratio = x["trace.stage_wall_sum_ratio"]
        assert 0.95 <= ratio <= 1.05, f"{w}: stage walls sum to {ratio:.3f} of the run wall"
        print(f"ok  {w:12s} stage walls = {ratio:.3f} of run wall "
              f"(driver gap {x['trace.driver_gap_share']:.2f}), "
              f"tracing overhead {x['trace.overhead_s']:+.3f} s")
    c, d = v["crawl_batch"], v["dup_chains"]
    assert c["share.bucket_checkpoint"] > d["share.bucket_checkpoint"], \
        (c["share.bucket_checkpoint"], d["share.bucket_checkpoint"])
    assert d["share.cc_assign"] > c["share.cc_assign"], (d["share.cc_assign"], c["share.cc_assign"])
    print(f"ok  bucket share {c['share.bucket_checkpoint']:.2f} (crawl) > "
          f"{d['share.bucket_checkpoint']:.2f} (chains); CC+assign share "
          f"{d['share.cc_assign']:.2f} (chains) > {c['share.cc_assign']:.2f} (crawl)")


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    stages(spec) if "--stages" in sys.argv[1:] else smoke(spec)


if __name__ == "__main__":
    main()
