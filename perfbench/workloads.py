"""The workloads: a fixed list of operator calls each, run in order.

A round is one pass over a workload's list. Every call goes through the
public API: ``GenomicRanges`` methods, ``read_bed``/``read_gtf``/``to_bed``
and the FASTA reader. ``call`` returns the DataFrame the round forces with a
noop-sink write, or ``None`` when the call is itself the action (``to_bed``).
``check`` compares the collected output with an independent computation
(checks.py); ``expected`` builds what it compares against once per run.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd

import checks as ck


@dataclass
class Op:
    name: str
    call: Callable[[dict], object]
    check: Callable[[pd.DataFrame, dict], None]
    #: For action calls: reads the written output back as pandas.
    collect: Callable[[dict], pd.DataFrame] | None = None


# -- reads_vs_genes ----------------------------------------------------------


def rvg_load(spark, pr, data: dict) -> dict:
    p = data["paths"]
    reads = pr.GenomicRanges(spark.read.parquet(p["reads"]))
    genes = pr.GenomicRanges(spark.read.parquet(p["genes"]))
    return {"reads": reads, "genes": genes, "pr": pr}


def rvg_subsample(reads_df):
    return reads_df[reads_df["read_id"] % 10 == 0]


def rvg_expected(data: dict) -> dict:
    reads, genes = data["reads"], data["genes"]
    ov = ck.OVERLAP
    return {
        "join": ck.duck(
            f"""SELECT x.read_id, x.Start, x."End", x.MapQ, x.Barcode, y.gene_id,
                       y.Start AS Start_b, y."End" AS End_b,
                       LEAST(x."End", y."End") - GREATEST(x.Start, y.Start) AS Overlap
                FROM reads x JOIN genes y ON {ov}""",
            reads=reads, genes=genes,
        ),
        "count": ck.duck(
            f"""SELECT x.read_id, x.Start, x."End", COUNT(y.gene_id) AS Count
                FROM reads x LEFT JOIN genes y ON {ov}
                GROUP BY x.read_id, x.Start, x."End" """,
            reads=reads, genes=genes,
        ),
        "overlap": ck.duck(
            f"""SELECT x.read_id, x.Start, x."End" FROM reads x
                WHERE EXISTS (SELECT 1 FROM genes y WHERE {ov} AND x.Strand = y.Strand)""",
            reads=reads, genes=genes,
        ),
        "subtract": ck.subtracted(genes, reads, "gene_id"),
        "nearest": ck.nearest_distance(rvg_subsample(reads), genes),
    }


def check_nearest(got: pd.DataFrame, exp: dict) -> None:
    """One row per subsampled read; its Distance is the true minimum; the
    reported partner is a real gene on the read's chromosome that attains it."""
    reads, genes, want = exp["sub"], exp["genes"], exp["nearest"]
    ck.same_rows(got, reads, ["read_id", "Chromosome", "Start", "End"], "nearest_ranges reads")
    g = got.set_index("read_id")
    w = want.set_axis(reads["read_id"].to_numpy())
    bad = g["Distance"].to_numpy() != w.reindex(g.index).to_numpy()
    ck._need(not bad.any(), f"nearest_ranges: {int(bad.sum())} reads with a non-minimal Distance")
    partner = genes.set_index("gene_id").reindex(g["gene_id"])
    ck._need(partner["Start"].notna().all(), "nearest_ranges: partner is not a gene")
    same = (
        (partner["Chromosome"].to_numpy() == g["Chromosome"].to_numpy())
        & (partner["Start"].to_numpy() == g["Start_b"].to_numpy())
        & (partner["End"].to_numpy() == g["End_b"].to_numpy())
    )
    ck._need(same.all(), f"nearest_ranges: {int((~same).sum())} partners do not match their gene row")
    d = ck.pair_distance(g["Start"].to_numpy(), g["End"].to_numpy(), g["Start_b"].to_numpy(), g["End_b"].to_numpy())
    ck._need((d == g["Distance"].to_numpy()).all(), "nearest_ranges: partner does not attain the Distance")


def _rvg_ops() -> list[Op]:
    return [
        Op(
            "join_overlaps",
            lambda c: c["reads"].join_overlaps(c["genes"], strand_behavior="ignore", report_overlap_column="Overlap").df,
            lambda got, e: ck.same_rows(
                got, e["join"],
                ["read_id", "Start", "End", "MapQ", "Barcode", "gene_id", "Start_b", "End_b", "Overlap"],
                "join_overlaps",
            ),
        ),
        Op(
            "count_overlaps",
            lambda c: c["reads"].count_overlaps(c["genes"], strand_behavior="ignore").df,
            lambda got, e: ck.same_rows(got, e["count"], ["read_id", "Start", "End", "Count"], "count_overlaps"),
        ),
        Op(
            "overlap",
            lambda c: c["reads"].overlap(c["genes"], strand_behavior="same").df,
            lambda got, e: ck.same_rows(got, e["overlap"], ["read_id", "Start", "End"], "overlap"),
        ),
        Op(
            "subtract_overlaps",
            lambda c: c["genes"].subtract_overlaps(c["reads"], strand_behavior="ignore").df,
            lambda got, e: ck.same_rows(got, e["subtract"], ["gene_id", "Chromosome", "Start", "End"], "subtract_overlaps"),
        ),
        Op(
            "nearest_ranges",
            lambda c: c["pr"]
            .GenomicRanges(c["reads"].df.filter("read_id % 10 = 0"))
            .nearest_ranges(c["genes"], strand_behavior="ignore")
            .df,
            check_nearest,
        ),
    ]


# -- reads_sweep ---------------------------------------------------------------


def sweep_load(spark, pr, data: dict) -> dict:
    return {"spark": spark, "pr": pr, "paths": data["paths"]}


#: The read subsample whose sequences are fetched; read_bed leaves Score a
#: string, hence the cast.
SEQ_SAMPLE = "CAST(Score AS INT) < 100"


def sweep_expected(data: dict) -> dict:
    reads = data["reads"]
    merged = ck.merged(reads, ["Chromosome"])
    cov = ck.coverage(reads, ["Chromosome"])
    seq = reads[reads["Score"] < 100]
    return {
        "merged": merged,
        "islands": ck.islands(reads, ["Chromosome", "Strand"]),
        "coverage": cov,
        "complement": ck.gaps(merged, ["Chromosome"]),
        "split": cov[cov["Value"] > 0],
        "seq": seq.assign(Seq=ck.interval_seqs(seq, data["genome"])),
    }


def _read_bed(c: dict):
    c["bed"] = c["pr"].read_bed(c["spark"], c["paths"]["bed"])
    return c["bed"].df


def _to_bed(c: dict):
    c["bed"].merge_overlaps(use_strand=False, count_col="Count").to_bed(c["paths"]["out"])


def read_bed_back(c: dict) -> pd.DataFrame:
    """The text ``to_bed`` wrote, parsed with pandas (BED6 plus Count)."""
    parts = sorted(glob.glob(os.path.join(c["paths"]["out"], "part-*")))
    cols = ["Chromosome", "Start", "End", "Name", "Score", "Strand", "Count"]
    frames = [pd.read_csv(p, sep="\t", header=None, names=cols, dtype={"Name": str, "Score": str, "Strand": str}) for p in parts if os.path.getsize(p)]
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(columns=cols)


def check_clusters(got: pd.DataFrame, e: dict) -> None:
    """Same rows, and the Cluster labels partition each (Chromosome, Strand)
    exactly as the numpy islands do."""
    isl = e["islands"]
    cols = ["Chromosome", "Strand", "Name", "Start", "End"]
    ck.same_rows(got, isl, cols, "cluster_overlaps rows")
    m = got[[*cols, "Cluster"]].merge(isl[[*cols, "__isl__"]], on=cols, validate="one_to_one")
    per_island = m.groupby("__isl__")["Cluster"].nunique()
    per_label = m.groupby(["Chromosome", "Strand", "Cluster"])["__isl__"].nunique()
    ck._need((per_island == 1).all(), "cluster_overlaps: an island carries several labels")
    ck._need((per_label == 1).all(), "cluster_overlaps: a label spans several islands")


def check_bed_written(got: pd.DataFrame, e: dict) -> None:
    ck._need((got["Name"] == ".").all() and (got["Strand"] == ".").all(), "to_bed: missing columns not written as '.'")
    ck.same_rows(got, e["merged"], ["Chromosome", "Start", "End", "Count"], "to_bed read back")


def _sweep_ops() -> list[Op]:
    return [
        Op(
            "read_bed",
            _read_bed,
            lambda got, e: ck.same_rows(
                got.assign(Score=got["Score"].astype(np.int64)), e["reads"],
                ["Chromosome", "Start", "End", "Name", "Score", "Strand"], "read_bed",
            ),
        ),
        Op(
            "merge_overlaps",
            lambda c: c["bed"].merge_overlaps(use_strand=False, count_col="Count").df,
            lambda got, e: ck.same_rows(got, e["merged"], ["Chromosome", "Start", "End", "Count"], "merge_overlaps"),
        ),
        Op("cluster_overlaps", lambda c: c["bed"].cluster_overlaps(use_strand=True).df, check_clusters),
        Op(
            "to_coverage",
            lambda c: c["bed"].to_coverage(use_strand=False).df,
            lambda got, e: ck.same_rows(got, e["coverage"], ["Chromosome", "Start", "End", "Value"], "to_coverage"),
        ),
        Op(
            "complement_ranges",
            lambda c: c["bed"].complement_ranges(use_strand=False).df,
            lambda got, e: ck.same_rows(got, e["complement"], ["Chromosome", "Start", "End"], "complement_ranges"),
        ),
        Op(
            "split_overlaps",
            lambda c: c["bed"].split_overlaps(use_strand=False).df,
            lambda got, e: ck.same_rows(got, e["split"], ["Chromosome", "Start", "End"], "split_overlaps"),
        ),
        Op(
            "get_sequence",
            lambda c: c["pr"].GenomicRanges(c["bed"].df.filter(SEQ_SAMPLE)).get_sequence(path=c["paths"]["fasta"]).df,
            lambda got, e: ck.same_rows(got, e["seq"], ["Name", "Start", "End", "Seq"], "get_sequence"),
        ),
        Op("to_bed", _to_bed, check_bed_written, collect=read_bed_back),
    ]


# -- annotation_small ----------------------------------------------------------


def annot_load(spark, pr, data: dict) -> dict:
    from pyranges_1_x_spark.sources.fasta import read_fasta_native

    p = data["paths"]
    return {
        "ex": pr.read_gtf(spark, p["gtf"], attributes=["gene_id", "transcript_id"]),
        "seqs": read_fasta_native(spark, p["fasta"]),
        "fasta": p["fasta"],
    }


def annot_expected(data: dict) -> dict:
    ex, genome = data["exons"], data["genome"]
    loc = ck.local_coords(ex)
    sp = ck.spans(ex)
    neg = sp["Strand"] == "-"
    five = sp.assign(
        Start=np.where(neg, sp["End"] - 1, sp["Start"]), End=np.where(neg, sp["End"], sp["Start"] + 1)
    )
    ups = sp.assign(
        Start=np.where(neg, sp["End"], np.maximum(sp["Start"] - 500, 0)),
        End=np.where(neg, sp["End"] + 500, np.maximum(sp["Start"], 0)),
    )
    ups = ups[ups["Start"] < ups["End"]]
    # Grouped extend: only a transcript's outermost ends move (5' by 100, 3' by 50).
    ext = ex.merge(sp, on=["Chromosome", "Strand", "transcript_id"], suffixes=("", "_t"))
    eneg = ext["Strand"] == "-"
    ext = ext.assign(
        Start=np.where(ext["Start"] == ext["Start_t"], np.maximum(ext["Start"] - np.where(eneg, 50, 100), 0), ext["Start"]),
        End=np.where(ext["End"] == ext["End_t"], ext["End"] + np.where(eneg, 100, 50), ext["End"]),
    )
    tiles = ex.loc[ex.index.repeat((ex["End"] - 1) // 500 - ex["Start"] // 500 + 1)]
    k = tiles.groupby(level=0).cumcount() + tiles["Start"] // 500
    tiles = tiles.assign(Start=k * 500, End=k * 500 + 500)
    win = ex.loc[ex.index.repeat(-(-(ex["End"] - ex["Start"]) // 100))]
    j = win.groupby(level=0).cumcount()
    wneg = win["Strand"] == "-"
    win = win.assign(
        Start=np.where(wneg, np.maximum(win["End"] - (j + 1) * 100, win["Start"]), win["Start"] + j * 100),
        End=np.where(wneg, win["End"] - j * 100, np.minimum(win["Start"] + (j + 1) * 100, win["End"])),
    )
    seqs = ck.interval_seqs(ex, genome)
    tx = ck.five_prime_order(ex.assign(Seq=seqs)).groupby(["Chromosome", "transcript_id"])["Seq"].agg("".join)
    return {
        "cumsum": loc.assign(CumStart=loc["LocStart"], CumEnd=loc["LocEnd"]),
        "slice": ck.sliced(ex, 30, 400),
        "five": five,
        "frame": loc.assign(Frame=loc["LocStart"] % 3),
        "extend": ext,
        "upstream": ups,
        "outer": sp,
        "tiles": tiles,
        "windows": win,
        "merged": ck.merged(ex, ["Chromosome", "Strand"]),
        "disjoint_n": ck.greedy_disjoint_count(ex, ["Chromosome", "Strand"]),
        "self_join": ck.duck(
            f"""SELECT x.transcript_id, x.Start, x."End", y.transcript_id AS transcript_id_b,
                       y.Start AS Start_b, y."End" AS End_b
                FROM ex x JOIN ex y ON {ck.OVERLAP} AND x.Strand = y.Strand""",
            ex=ex,
        ),
        "seq": ex.assign(Seq=seqs),
        "tx_seq": tx.reset_index(),
    }


def check_sorted(got: pd.DataFrame, e: dict) -> None:
    cols = ["Chromosome", "Strand", "Start", "End"]
    ck.same_rows(got, e["exons"], [*cols, "transcript_id"], "sort_ranges rows")
    # Chromosome names here are chr1..chr3, whose natural order is lexicographic.
    keys = list(zip(*(got[c].to_numpy() for c in cols)))
    ck._need(all(a <= b for a, b in zip(keys, keys[1:])), "sort_ranges: rows out of (Chromosome, Strand, Start, End) order")


def _annot_ops() -> list[Op]:
    tx = ["transcript_id", "Start", "End"]

    def rows(key, cols, what):
        return lambda got, e: ck.same_rows(got, e[key], cols, what)

    return [
        Op(
            "group_cumsum",
            lambda c: c["ex"].group_cumsum(group_by="transcript_id", cumsum_start_column="CumStart", cumsum_end_column="CumEnd").df,
            rows("cumsum", [*tx, "CumStart", "CumEnd"], "group_cumsum"),
        ),
        Op("slice_ranges", lambda c: c["ex"].slice_ranges(30, 400, group_by="transcript_id").df, rows("slice", tx, "slice_ranges")),
        Op("five_end", lambda c: c["ex"].five_end(group_by="transcript_id").df, rows("five", tx, "five_end")),
        Op(
            "calculate_frame",
            lambda c: c["ex"].calculate_frame(group_by="transcript_id").df,
            rows("frame", [*tx, "Frame"], "calculate_frame"),
        ),
        Op(
            "extend_ranges",
            lambda c: c["ex"].extend_ranges(ext_5=100, ext_3=50, group_by="transcript_id").df,
            rows("extend", tx, "extend_ranges"),
        ),
        Op("upstream", lambda c: c["ex"].upstream(500, group_by="transcript_id").df, rows("upstream", tx, "upstream")),
        Op(
            "outer_ranges",
            lambda c: c["ex"].outer_ranges(group_by="transcript_id").df,
            rows("outer", ["Chromosome", "Strand", *tx], "outer_ranges"),
        ),
        Op("tile_ranges", lambda c: c["ex"].tile_ranges(500).df, rows("tiles", tx, "tile_ranges")),
        Op("window_ranges", lambda c: c["ex"].window_ranges(100).df, rows("windows", tx, "window_ranges")),
        Op("sort_ranges", lambda c: c["ex"].sort_ranges().df, check_sorted),
        Op(
            "merge_overlaps",
            lambda c: c["ex"].merge_overlaps(use_strand=True).df,
            rows("merged", ["Chromosome", "Strand", "Start", "End"], "merge_overlaps"),
        ),
        Op(
            "max_disjoint_overlaps",
            lambda c: c["ex"].max_disjoint_overlaps(use_strand=True).df,
            lambda got, e: ck.check_disjoint(
                got, e["exons"], ["Chromosome", "Strand"], ["Chromosome", "Strand", "Start", "End", "transcript_id"],
                e["disjoint_n"], "max_disjoint_overlaps",
            ),
        ),
        Op(
            "join_overlaps",
            lambda c: c["ex"].join_overlaps(c["ex"], strand_behavior="same").df,
            rows("self_join", [*tx, "transcript_id_b", "Start_b", "End_b"], "join_overlaps"),
        ),
        Op("get_sequence", lambda c: c["ex"].get_sequence(path=c["fasta"]).df, rows("seq", [*tx, "Seq"], "get_sequence")),
        Op(
            "get_transcript_sequence",
            lambda c: c["ex"].get_transcript_sequence(c["seqs"], group_by="transcript_id"),
            rows("tx_seq", ["Chromosome", "transcript_id", "Seq"], "get_transcript_sequence"),
        ),
    ]


@dataclass
class Workload:
    name: str
    #: Opens the input files on a session: (spark, package, data) -> call context.
    load: Callable
    expected: Callable[[dict], dict]
    ops: list[Op]


WORKLOADS = {
    "reads_vs_genes": Workload("reads_vs_genes", rvg_load, rvg_expected, _rvg_ops()),
    "reads_sweep": Workload("reads_sweep", sweep_load, sweep_expected, _sweep_ops()),
    "annotation_small": Workload("annotation_small", annot_load, annot_expected, _annot_ops()),
}


def expected(name: str, data: dict) -> dict:
    """Everything a workload's checks compare against, plus its raw inputs."""
    exp = WORKLOADS[name].expected(data)
    if name == "reads_vs_genes":
        exp.update(sub=rvg_subsample(data["reads"]), genes=data["genes"])
    elif name == "reads_sweep":
        exp["reads"] = data["reads"]
    else:
        exp["exons"] = data["exons"]
    return exp
