"""Run the sf100 cap probe (VERDICT r12 #5) and fold results into SCALE100.json.

Usage:
  python tools/make_cap_probe_fixture.py /tmp/capprobe 5000000
  SPARK_GRAFT_DRIVER_MEM=24g python tools/run_cap_probe.py /tmp/capprobe

Probes the two scale-critical families at 1000x the correctness gate on a
fixture where the `max_df` posting cap BINDS for the first time (the
driver's replica scaling keeps shingle spaces disjoint, so df never grows
there; see make_cap_probe_fixture.py):

  * ngram_containment_pairs -- the banded/inverted-index dedup family's
    postings_pair_counts with max_df=10_000 actually engaging;
    hot_postings_report records the drop accounting (how many keys, the
    max df, and the candidate-pair volume the cap prevented).
  * minhash_lsh_near_dup -- the LSH scale path over the same Zipf corpus.
  * cosine_topk_ivf -- the IVF probe at 2M vectors (train + invert once,
    probe-only second run).

Each query runs twice; both timings are recorded (run1 includes artifact
builds -- the honest train-once cost -- run2 is the standing-index probe).
vs_linear compares run2 at the two scales: (big/base)/scale_ratio.
Artifacts trained for the probe fixtures are deleted afterwards (the
committed artifact dirs stay fixture-only).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = ("ngram_containment_pairs", "minhash_lsh_near_dup", "cosine_topk_ivf")


def _artifact_snapshot() -> set[str]:
    from rlink_rs_spark.artifacts import ROOT

    out = set()
    for fam in ("ivf_codebooks", "ivf_inverted", "lsh_band_index"):
        d = os.path.join(ROOT, fam)
        if os.path.isdir(d):
            out |= {os.path.join(d, e) for e in os.listdir(d)}
    return out


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else "/tmp/capprobe"
    from pyspark.sql import functions as F

    from rlink_rs_spark.operators.dedup import hot_postings_report, with_shingles
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.dedup import _MAX_DF
    from rlink_rs_spark.session import get_spark
    from rlink_rs_spark.tables import load_table

    spark = get_spark("cap_probe")
    before = _artifact_snapshot()
    legs: dict[str, dict] = {}
    n_docs: dict[str, int] = {}
    for scale in ("base", "sf100"):
        sf_dir = os.path.join(root, scale)
        n_docs[scale] = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
        leg: dict[str, dict] = {}
        for name in QUERIES:
            runs = []
            rows = None
            for _ in range(2):
                t0 = time.time()
                rows = REGISTRY[name].fn(spark, sf_dir).count()
                runs.append(round(time.time() - t0, 2))
            leg[name] = {"rows": rows, "run1_sec": runs[0], "run2_sec": runs[1]}
            print(scale, name, leg[name], flush=True)
        # drop accounting: what did the cap discard, and what pair volume
        # would those keys have streamed uncapped?
        t0 = time.time()
        sh = with_shingles(load_table(spark, sf_dir, "documents")).distinct()
        rep = hot_postings_report(sh, max_df=_MAX_DF)
        acct = rep.agg(
            F.count(F.lit(1)).alias("keys_dropped"),
            F.max("df").alias("max_df_seen"),
            F.sum(F.expr("df * (df - 1) / 2")).cast("double").alias("pairs_prevented"),
        ).collect()[0]
        leg["hot_postings_report"] = {
            "max_df_cap": _MAX_DF,
            "keys_dropped": acct["keys_dropped"],
            "max_df_seen": acct["max_df_seen"],
            "pairs_prevented": acct["pairs_prevented"],
            "report_sec": round(time.time() - t0, 2),
        }
        print(scale, "hot_postings_report", leg["hot_postings_report"], flush=True)
        legs[scale] = leg

    ratio = n_docs["sf100"] / n_docs["base"]
    probe = {
        "fixture": "zipf-head generator, tools/make_cap_probe_fixture.py",
        "n_docs": n_docs,
        "scale_ratio": ratio,
        "max_df_cap": _MAX_DF,
        "legs": legs,
        "vs_linear_run2": {
            q: round(
                (legs["sf100"][q]["run2_sec"] / legs["base"][q]["run2_sec"]) / ratio, 3
            )
            for q in QUERIES
            if legs["base"][q]["run2_sec"] > 0
        },
        "loadavg": os.getloadavg()[0],
    }
    path = os.path.join(REPO, "SCALE100.json")
    with open(path) as f:
        doc = json.load(f)
    doc["sf100_cap_probe"] = probe
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    print("wrote sf100_cap_probe into SCALE100.json")

    for extra in sorted(_artifact_snapshot() - before):
        shutil.rmtree(extra, ignore_errors=True)
        print("removed probe artifact", extra)


if __name__ == "__main__":
    main()
