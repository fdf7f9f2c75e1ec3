"""Make the committed traced-run result: one `run.py --trace 1` per
workload at one seed, gathered into perfbench/results/<name>.json with
the pdf_extract time reconciliation and the checks that each workload
stresses the layer it was chosen for.

    python3 perfbench/report.py --seed 7 --name traced_4vcpu
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["pdf_extract", "crawl_resume", "corpus_dedup"]
PDF_PHASES = ["core.cos.parse_ms", "core.filters.decode_ms",
              "core.content.tokenize_ms", "core.interp.self_ms"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--name", required=True)
    args = ap.parse_args()

    runs = {}
    for wl in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", "1"], stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            print("%s failed" % wl, file=sys.stderr)
            return 1
        with open(os.path.join(".perfbench_work", "traces", "%s-seed%d.json"
                               % (wl, args.seed))) as fh:
            runs[wl] = json.load(fh)

    m = {wl: r["metrics"] for wl, r in runs.items()}
    crawl_pdf_ms = sum(m["crawl_resume"][k] for k in PDF_PHASES)
    checks = {
        "latest_snapshot shuffle is 0 on pdf_extract":
            m["pdf_extract"]["pipeline.latest_snapshot.shuffle_bytes"] == 0,
        "latest_snapshot shuffle is > 0 on crawl_resume":
            m["crawl_resume"]["pipeline.latest_snapshot.shuffle_bytes"] > 0,
        "htmltext dominates core time on crawl_resume":
            m["crawl_resume"]["core.htmltext.ms"] > crawl_pdf_ms,
        "no Python UDF in any corpus_dedup operator plan":
            runs["corpus_dedup"]["reconcile"]["python_eval_plan_nodes"] == 0,
    }
    out = {
        "host": {"nproc": os.cpu_count(), "machine": platform.machine(),
                 "python": platform.python_version()},
        "seed": args.seed,
        "seconds": args.seconds,
        "per_layer": m,
        "pdf_extract_reconciliation": runs["pdf_extract"]["reconcile"],
        "checks": checks,
    }
    path = os.path.join(HERE, "results", args.name + ".json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(path)
    return 0 if all(checks.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
