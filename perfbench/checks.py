"""Independent checks of every operator call's output.

Each check recomputes the expected answer apart from the package — DuckDB
range joins for the join family, numpy sweeps for the island and event-point
operators, numpy ``searchsorted`` for nearest, pandas per-transcript
arithmetic or a property the method must have for the annotation operators —
and compares the engine's collected output with it. Nothing here stores a
copy of an earlier output. A check raises :class:`CheckError` on the first
difference it finds.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd


class CheckError(Exception):
    """An operator's output differs from the independent computation."""


def _need(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckError(msg)


def _norm(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    out = df[cols].copy()
    for c in cols:
        if pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype(np.int64)
    return out.sort_values(cols, kind="mergesort").reset_index(drop=True)


def same_rows(got: pd.DataFrame, want: pd.DataFrame, cols: list[str], what: str) -> None:
    """``got`` and ``want`` hold the same multiset of rows over ``cols``."""
    missing = [c for c in cols if c not in got.columns]
    _need(not missing, f"{what}: output lacks columns {missing}")
    _need(len(got) == len(want), f"{what}: {len(got)} rows, expected {len(want)}")
    g, w = _norm(got, cols), _norm(want, cols)
    diff = ~((g == w) | (g.isna() & w.isna())).all(axis=1)
    if diff.any():
        i = int(np.flatnonzero(diff.to_numpy())[0])
        raise CheckError(f"{what}: row {i} differs: got {g.iloc[i].to_dict()} want {w.iloc[i].to_dict()}")


# -- numpy sweeps ------------------------------------------------------------


def islands(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    """Per-row overlap island id within ``keys`` (touching rows are separate
    islands, as in the engine's strict-overlap merge)."""
    d = df.sort_values([*keys, "Start", "End"], kind="mergesort")
    grp = d.groupby(keys, sort=False).ngroup().to_numpy()
    start, end = d["Start"].to_numpy(), d["End"].to_numpy()
    new = np.ones(len(d), dtype=bool)
    for g in np.unique(grp):
        idx = np.flatnonzero(grp == g)
        prev_max = np.maximum.accumulate(end[idx])[:-1]
        new[idx[1:]] = start[idx[1:]] >= prev_max
    d = d.assign(__isl__=np.cumsum(new))
    return d


def merged(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    d = islands(df, keys)
    return (
        d.groupby([*keys, "__isl__"], sort=False)
        .agg(Start=("Start", "min"), End=("End", "max"), Count=("Start", "size"))
        .reset_index()
        .drop(columns="__isl__")
    )


def coverage(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    """Depth runs between consecutive distinct boundary points."""
    parts = []
    for key, g in df.groupby(keys, sort=False):
        pos = np.concatenate([g["Start"].to_numpy(), g["End"].to_numpy()])
        delta = np.concatenate([np.ones(len(g), np.int64), -np.ones(len(g), np.int64)])
        upos, inv = np.unique(pos, return_inverse=True)
        depth = np.cumsum(np.bincount(inv, weights=delta).astype(np.int64))
        run = pd.DataFrame({"Start": upos[:-1], "End": upos[1:], "Value": depth[:-1]})
        for k, v in zip(keys, key if isinstance(key, tuple) else (key,)):
            run[k] = v
        parts.append(run)
    return pd.concat(parts, ignore_index=True)


def gaps(blocks: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    b = blocks.sort_values([*keys, "Start"], kind="mergesort")
    nxt = b.groupby(keys, sort=False)["Start"].shift(-1)
    keep = nxt.notna() & (nxt > b["End"])
    return pd.DataFrame(
        {**{k: b.loc[keep, k] for k in keys}, "Start": b.loc[keep, "End"], "End": nxt[keep].astype(np.int64)}
    )


def subtracted(left: pd.DataFrame, right: pd.DataFrame, id_col: str) -> pd.DataFrame:
    """``left`` rows minus the union of ``right`` on the same chromosome."""
    blk = merged(right, ["Chromosome"])
    out = []
    for chrom, g in left.groupby("Chromosome", sort=False):
        b = blk[blk["Chromosome"] == chrom].sort_values("Start")
        bs, be = b["Start"].to_numpy(), b["End"].to_numpy()
        for rid, s, e in zip(g[id_col], g["Start"], g["End"]):
            lo, hi = np.searchsorted(be, s, side="right"), np.searchsorted(bs, e, side="left")
            cur = s
            for x, y in zip(bs[lo:hi], be[lo:hi]):
                if x > cur:
                    out.append((rid, chrom, cur, min(x, e)))
                cur = max(cur, y)
            if cur < e:
                out.append((rid, chrom, cur, e))
    return pd.DataFrame(out, columns=[id_col, "Chromosome", "Start", "End"])


def nearest_distance(reads: pd.DataFrame, genes: pd.DataFrame) -> pd.Series:
    """Distance from each read to its nearest gene: 0 on overlap, otherwise
    the gap plus one (touching intervals are at distance 1)."""
    dist = pd.Series(np.iinfo(np.int64).max, index=reads.index, dtype=np.int64)
    for chrom, r in reads.groupby("Chromosome", sort=False):
        g = genes[genes["Chromosome"] == chrom]
        gs = g["Start"].to_numpy()
        order = np.argsort(gs, kind="mergesort")
        gs, ge_by_start = gs[order], g["End"].to_numpy()[order]
        run_max_end = np.maximum.accumulate(ge_by_start)
        ends_sorted = np.sort(g["End"].to_numpy())
        rs, re_ = r["Start"].to_numpy(), r["End"].to_numpy()
        n_before = np.searchsorted(gs, re_, side="left")  # genes with Start < read End
        overlap = (n_before > 0) & (run_max_end[np.maximum(n_before - 1, 0)] > rs)
        big = np.iinfo(np.int64).max
        i_left = np.searchsorted(ends_sorted, rs, side="right") - 1  # max End <= read Start
        left = np.where(i_left >= 0, rs - ends_sorted[np.maximum(i_left, 0)] + 1, big)
        i_right = np.searchsorted(gs, re_, side="left")  # min Start >= read End
        right = np.where(i_right < len(gs), gs[np.minimum(i_right, len(gs) - 1)] - re_ + 1, big)
        dist.loc[r.index] = np.where(overlap, 0, np.minimum(left, right))
    return dist


def pair_distance(s1, e1, s2, e2) -> np.ndarray:
    gap = np.maximum(s1, s2) - np.minimum(e1, e2)
    return np.where(gap < 0, 0, gap + 1)


# -- pandas per-transcript arithmetic ---------------------------------------


def five_prime_order(ex: pd.DataFrame) -> pd.DataFrame:
    """Exons walked 5'->3' per transcript: ascending Start on '+', descending on '-'."""
    key = np.where(ex["Strand"] == "-", -ex["Start"], ex["Start"])
    return ex.assign(__k__=key).sort_values(["transcript_id", "__k__"], kind="mergesort").drop(columns="__k__")


def local_coords(ex: pd.DataFrame) -> pd.DataFrame:
    d = five_prime_order(ex)
    ln = d["End"] - d["Start"]
    cum_end = ln.groupby(d["transcript_id"]).cumsum()
    return d.assign(LocStart=cum_end - ln, LocEnd=cum_end, Total=ln.groupby(d["transcript_id"]).transform("sum"))


def sliced(ex: pd.DataFrame, start: int, end: int) -> pd.DataFrame:
    d = local_coords(ex)
    qs, qe = max(start, 0), np.minimum(end, d["Total"])
    lo, hi = np.maximum(d["LocStart"], qs), np.minimum(d["LocEnd"], qe)
    keep = lo < hi
    d, lo, hi = d[keep], lo[keep], hi[keep]
    neg = d["Strand"] == "-"
    off_lo, off_hi = lo - d["LocStart"], hi - d["LocStart"]
    return d.assign(
        Start=np.where(neg, d["End"] - off_hi, d["Start"] + off_lo),
        End=np.where(neg, d["End"] - off_lo, d["Start"] + off_hi),
    )


def spans(ex: pd.DataFrame) -> pd.DataFrame:
    return (
        ex.groupby(["Chromosome", "Strand", "transcript_id"])
        .agg(Start=("Start", "min"), End=("End", "max"))
        .reset_index()
    )


def revcomp(s: str) -> str:
    return s.translate(str.maketrans("ACGTacgt", "TGCAtgca"))[::-1]


def interval_seqs(df: pd.DataFrame, genome: dict[str, str]) -> list[str]:
    """The genome slice of each row, reverse-complemented on '-'."""
    out = []
    for c, s, e, st in zip(df["Chromosome"], df["Start"], df["End"], df["Strand"]):
        seq = genome[c][s:e]
        out.append(revcomp(seq) if st == "-" else seq)
    return out


def check_disjoint(got: pd.DataFrame, rows: pd.DataFrame, keys: list[str], cols: list[str], n_greedy: int, what: str) -> None:
    """Kept rows are input rows, pairwise disjoint within ``keys``, and as
    many as greedy-by-End keeps."""
    inside = got[cols].merge(rows[cols].drop_duplicates(), on=cols, how="left", indicator=True)
    _need((inside["_merge"] == "both").all(), f"{what}: a row is not an input row")
    d = got.sort_values([*keys, "Start"], kind="mergesort")
    same_grp = np.ones(max(len(d) - 1, 0), dtype=bool)
    for k in keys:
        v = d[k].to_numpy()
        same_grp &= v[1:] == v[:-1]
    clash = same_grp & (d["Start"].to_numpy()[1:] < d["End"].to_numpy()[:-1])
    _need(not clash.any(), f"{what}: two kept rows overlap")
    _need(len(got) == n_greedy, f"{what}: kept {len(got)}, greedy-by-End keeps {n_greedy}")


def greedy_disjoint_count(df: pd.DataFrame, keys: list[str]) -> int:
    n = 0
    for _, g in df.groupby(keys):
        last = None
        for s, e in sorted(zip(g["Start"], g["End"]), key=lambda t: (t[1], t[0])):
            if last is None or s >= last:
                n += 1
                last = e
    return n


def duck(sql: str, **tables: pd.DataFrame) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for name, frame in tables.items():
            con.register(name, frame)
        return con.execute(sql).df()
    finally:
        con.close()


OVERLAP = 'x.Chromosome = y.Chromosome AND x.Start < y."End" AND y.Start < x."End"'
