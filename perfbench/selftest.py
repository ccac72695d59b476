"""Self-test of the checkers: a corrupted output must fail its check.

    python3 perfbench/selftest.py [--seed 1]

For every operator of every workload this builds a correct output in the
engine's column layout from the independent computation, asserts that the
check accepts it, then asserts that the check rejects three corruptions of
it: one End off by one (a changed base where there is no End), one dropped
row, and one swapped partner (the value of the operator's partner or result
column exchanged between two rows). A checker that passes a corruption
would pass a broken engine, so the run exits non-zero. No Spark is started.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks as ck  # noqa: E402
import inputs  # noqa: E402
import workloads  # noqa: E402


def nearest_good(e: dict) -> pd.DataFrame:
    """Each subsampled read with one gene that attains its minimum distance."""
    sub, genes = e["sub"], e["genes"]
    rows = []
    for chrom, r in sub.groupby("Chromosome"):
        g = genes[genes["Chromosome"] == chrom]
        d = ck.pair_distance(
            r["Start"].to_numpy()[:, None], r["End"].to_numpy()[:, None],
            g["Start"].to_numpy()[None, :], g["End"].to_numpy()[None, :],
        )
        best = g.iloc[d.argmin(axis=1)]
        rows.append(r.assign(gene_id=best["gene_id"].to_numpy(), Start_b=best["Start"].to_numpy(),
                             End_b=best["End"].to_numpy(), Distance=d.min(axis=1)))
    return pd.concat(rows, ignore_index=True)


def greedy_rows(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    keep = []
    for _, g in df.groupby(keys):
        last = None
        for idx, s, t in sorted(zip(g.index, g["Start"], g["End"]), key=lambda x: (x[2], x[1])):
            if last is None or s >= last:
                keep.append(idx)
                last = t
    return df.loc[keep]


#: (correct output from the expected data, the column a "swapped partner" corrupts)
GOOD = {
    ("reads_vs_genes", "join_overlaps"): (lambda e: e["join"], "gene_id"),
    ("reads_vs_genes", "count_overlaps"): (lambda e: e["count"], "Count"),
    ("reads_vs_genes", "overlap"): (lambda e: e["overlap"], "read_id"),
    ("reads_vs_genes", "subtract_overlaps"): (lambda e: e["subtract"], "gene_id"),
    ("reads_vs_genes", "nearest_ranges"): (nearest_good, ("gene_id", "Start_b", "End_b")),
    ("reads_sweep", "read_bed"): (lambda e: e["reads"].assign(Score=e["reads"]["Score"].astype(str)), "Name"),
    ("reads_sweep", "merge_overlaps"): (lambda e: e["merged"], "Count"),
    ("reads_sweep", "cluster_overlaps"): (lambda e: e["islands"].rename(columns={"__isl__": "Cluster"}), "Cluster"),
    ("reads_sweep", "to_coverage"): (lambda e: e["coverage"], "Value"),
    ("reads_sweep", "complement_ranges"): (lambda e: e["complement"], "End"),
    ("reads_sweep", "split_overlaps"): (lambda e: e["split"], "End"),
    ("reads_sweep", "get_sequence"): (lambda e: e["seq"], "Seq"),
    ("reads_sweep", "to_bed"): (lambda e: e["merged"].assign(Name=".", Score=".", Strand="."), "Count"),
    ("annotation_small", "group_cumsum"): (lambda e: e["cumsum"], "CumEnd"),
    ("annotation_small", "slice_ranges"): (lambda e: e["slice"], "transcript_id"),
    ("annotation_small", "five_end"): (lambda e: e["five"], "transcript_id"),
    ("annotation_small", "calculate_frame"): (lambda e: e["frame"], "Frame"),
    ("annotation_small", "extend_ranges"): (lambda e: e["extend"], "transcript_id"),
    ("annotation_small", "upstream"): (lambda e: e["upstream"], "transcript_id"),
    ("annotation_small", "outer_ranges"): (lambda e: e["outer"], "transcript_id"),
    ("annotation_small", "tile_ranges"): (lambda e: e["tiles"], "transcript_id"),
    ("annotation_small", "window_ranges"): (lambda e: e["windows"], "transcript_id"),
    ("annotation_small", "sort_ranges"): (
        lambda e: e["exons"].sort_values(["Chromosome", "Strand", "Start", "End"], kind="mergesort"), "Start"),
    ("annotation_small", "merge_overlaps"): (lambda e: e["merged"], "End"),
    ("annotation_small", "max_disjoint_overlaps"): (
        lambda e: greedy_rows(e["exons"], ["Chromosome", "Strand"]), "transcript_id"),
    ("annotation_small", "join_overlaps"): (lambda e: e["self_join"], "transcript_id_b"),
    ("annotation_small", "get_sequence"): (lambda e: e["seq"], "Seq"),
    ("annotation_small", "get_transcript_sequence"): (lambda e: e["tx_seq"], "Seq"),
}


def end_off_by_one(df: pd.DataFrame) -> pd.DataFrame:
    out = df.reset_index(drop=True).copy()
    if "End" in out.columns:
        out.loc[0, "End"] += 1
    else:  # no End column: change one base of the sequence instead
        s = out.loc[0, "Seq"]
        out.loc[0, "Seq"] = ("C" if s[0] != "C" else "G") + s[1:]
    return out


def dropped_row(df: pd.DataFrame) -> pd.DataFrame:
    return df.reset_index(drop=True).iloc[:-1]


def swapped(df: pd.DataFrame, cols) -> pd.DataFrame:
    """Exchange ``cols`` between row 0 and the first row that differs from it
    both in ``cols`` and elsewhere, so the row multiset really changes."""
    cols = [cols] if isinstance(cols, str) else list(cols)
    out = df.reset_index(drop=True).copy()
    other = [c for c in out.columns if c not in cols]
    differs = (out[cols] != out.loc[0, cols]).any(axis=1) & (out[other] != out.loc[0, other]).any(axis=1)
    j = int(np.flatnonzero(differs.to_numpy())[0])
    a, b = out.loc[0, cols].copy(), out.loc[j, cols].copy()
    out.loc[0, cols], out.loc[j, cols] = b.to_numpy(), a.to_numpy()
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    root = os.path.join(os.path.dirname(HERE), ".perfbench_work", f"selftest-{os.getpid()}")
    bad = []
    try:
        for name, wl in workloads.WORKLOADS.items():
            os.makedirs(os.path.join(root, name))
            data = inputs.MAKERS[name](args.seed, os.path.join(root, name))
            exp = workloads.expected(name, data)
            for op in wl.ops:
                n_bad = len(bad)
                build, swap_cols = GOOD[(name, op.name)]
                good = build(exp)
                try:
                    op.check(good, exp)
                except ck.CheckError as e:
                    bad.append(f"{name}.{op.name}: rejects a correct output ({e})")
                    continue
                for label, corrupt in (("End off by one", end_off_by_one), ("dropped row", dropped_row),
                                       ("swapped partner", lambda d, c=swap_cols: swapped(d, c))):
                    try:
                        op.check(corrupt(good), exp)
                    except ck.CheckError:
                        continue
                    bad.append(f"{name}.{op.name}: accepts an output with a {label}")
                print(f"{name}.{op.name}: {'ok' if len(bad) == n_bad else 'FAIL'}", flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    for line in bad:
        print(f"FAIL {line}")
    print(f"selftest: {len(bad)} failures over {len(GOOD)} checkers")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
