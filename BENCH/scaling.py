"""Two-cluster-size scaling evidence (north_rule: efficiency >= 0.8 from N
to 4N executors; sandbox proxy = local[8] vs local[32] on the same input).

Runs bench.py in separate processes (a SparkSession pins its master at
first getOrCreate).  Usage:

    python BENCH/scaling.py run 8      # writes BENCH/.r8.json
    python BENCH/scaling.py run 32     # writes BENCH/.r32.json
    python BENCH/scaling.py report     # writes BENCH/BASELINE.md
    python BENCH/scaling.py            # all three in sequence
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(REPO, "BENCH")

# N and 4N parallelism levels (the driver instructions allow any N vs 4N
# pair; on this sandbox host with persistent external CPU load, a pair that
# fits inside the free headroom measures the ENGINE's scaling rather than
# the host's contention)
N_LOW = int(os.environ.get("SCALE_N_LOW", "8"))
N_HIGH = int(os.environ.get("SCALE_N_HIGH", "32"))


def run(cpus: int, sf_dir: str) -> dict:
    # scaling needs enough work per core that fixed overheads (stage launch,
    # python-worker startup) amortize: 200k pages, not the 20k quick bench
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_SF_DIR=sf_dir,
               PYTHONPATH=REPO, SPARK_GRAFT_ONLY="kg",
               SPARK_GRAFT_PAGES=os.environ.get("SCALING_PAGES", "200000"))
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env, capture_output=True, text=True,
        timeout=int(os.environ.get("SCALING_TIMEOUT", "5400")),
    )
    line = out.stdout.strip().splitlines()[-1]
    r = json.loads(line)
    with open(os.path.join(BENCH_DIR, f".r{cpus}.json"), "w") as f:
        json.dump(r, f)
    if not r.get("clean_window", True):
        # the host has minutes-long external degradation episodes (5-10x on
        # bandwidth-bound work); a leg bracketed by dirty probes is not a
        # measurement of the engine — rerun it (bench.py _box_probe)
        print(
            f"WARNING: local[{cpus}] leg measured in a DIRTY window "
            f"(probe_before={r.get('probe_before')}, probe_after={r.get('probe_after')}) "
            "— rerun this leg before reporting",
            file=sys.stderr,
        )
    return r


def report() -> None:
    with open(os.path.join(BENCH_DIR, f".r{N_LOW}.json")) as f:
        r8 = json.load(f)
    with open(os.path.join(BENCH_DIR, f".r{N_HIGH}.json")) as f:
        r32 = json.load(f)
    tput8, tput32 = r8["triples_per_sec"], r32["triples_per_sec"]
    eff = (tput32 / tput8) / 4.0
    rep = {
        "n_cores": N_LOW, "n4_cores": N_HIGH, "tput_8": tput8, "tput_32": tput32,
        "sec_8": r8["queries"]["kg_pipeline"], "sec_32": r32["queries"]["kg_pipeline"],
        "scaling_efficiency": round(eff, 3),
        "precision": r32["precision"], "recall": r32["recall"],
        "pages": r32["pages"], "triples": r32["triples"],
        "clean_window": bool(
            r8.get("clean_window", False) and r32.get("clean_window", False)
        ),
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    print(json.dumps(rep))
    md = f"""# BENCH/BASELINE — measured engine numbers

Generated by `python BENCH/scaling.py` (same job, same input, two
parallelism levels — the sandbox proxy for N vs 4N executors per the
driver's north_rule instructions).  Flagship = full KG triple-extraction
pipeline (extraction -> linking -> KG joins -> scoring -> top-1) on the
deterministic synthetic corpus at {rep['pages']} pages.

| metric | value | config |
|---|---|---|
| Triples extracted | {rep['triples']} | {rep['pages']} pages |
| Triple precision vs gold | {rep['precision']} | exact (url, subj, pred, obj) match |
| Triple recall vs gold | {rep['recall']} | |
| Throughput @ local[{rep['n_cores']}] (N) | {tput8} triples/sec | best-of-2, dictionaries pre-materialized |
| Throughput @ local[{rep['n4_cores']}] (4N) | {tput32} triples/sec | |
| Wall @ local[{rep['n_cores']}] | {rep['sec_8']} s | |
| Wall @ local[{rep['n4_cores']}] | {rep['sec_32']} s | |
| **Scaling efficiency (N -> 4N)** | **{rep['scaling_efficiency']}** | (tput_4N/tput_N)/4, target >= 0.8 |

Caveat: the sandbox host shows external CPU load (loadavg ~10 with no local
processes); bench.py reports best-of-2 per level to damp that noise.

Reference comparison: the reference publishes no throughput (sequential
per-row HTTPS; see BASELINE.md) — these numbers stand as the engine's own
baseline for future rounds.
"""
    # append to the history log and render the full history table; any
    # hand-written analysis below the MANUAL marker is preserved verbatim
    hist_path = os.path.join(BENCH_DIR, "history.jsonl")
    with open(hist_path, "a") as f:
        f.write(json.dumps(rep) + "\n")
    hist = []
    with open(hist_path) as f:
        for line in f:
            if line.strip():
                hist.append(json.loads(line))
    md += "\n## Measurement history\n\n"
    md += (
        "| ts | pages | N | 4N | tput_N | tput_4N | efficiency | window |\n"
        "|---|---|---|---|---|---|---|---|\n"
    )
    for h in hist:
        if "clean_window" not in h:
            win = "unprobed"  # probe landed round 4; older rows can't tell
        else:
            win = "clean" if h["clean_window"] else "DIRTY"
        md += (
            f"| {h['ts']} | {h['pages']} | local[{h['n_cores']}] | local[{h['n4_cores']}] "
            f"| {h['tput_8']} t/s | {h['tput_32']} t/s | **{h['scaling_efficiency']}** | {win} |\n"
        )
    marker = "<!-- MANUAL-SECTIONS -->"
    base_path = os.path.join(BENCH_DIR, "BASELINE.md")
    manual = ""
    if os.path.exists(base_path):
        old = open(base_path).read()
        if marker in old:
            manual = old[old.index(marker):]
    md += "\n" + (manual or marker + "\n")
    with open(base_path, "w") as f:
        f.write(md)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args = sys.argv[1:]
    if not args:
        run(N_LOW, sf_dir)
        run(N_HIGH, sf_dir)
        report()
    elif args[0] == "run":
        run(int(args[1]), sf_dir)
    elif args[0] == "report":
        report()
    else:
        raise SystemExit(f"unknown subcommand {args}")


if __name__ == "__main__":
    main()
