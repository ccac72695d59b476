"""Seeded input generation for the benchmark workloads.

Every input is made with numpy from ``--seed`` before any clock starts and
written to files; the engine only ever reads those files. Sizes are fixed
per workload, so the seed moves positions and lengths but not row counts.
The pandas frames returned alongside the file paths are what the
independent checkers compare against.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

#: reads_vs_genes: 4 chromosomes, 100 Mb in total.
RVG_CHROMS = {"chr1": 40_000_000, "chr2": 30_000_000, "chr3": 20_000_000, "chr4": 10_000_000}
RVG_READS = 50_000
RVG_GENES = 2_000
RVG_SPLITS = 8

#: reads_sweep and annotation_small: a 6 Mb genome in 3 chromosomes.
GENOME_CHROMS = {"chr1": 2_500_000, "chr2": 2_000_000, "chr3": 1_500_000}
SWEEP_READS = 60_000

#: annotation_small: a GTF of a few thousand exons.
ANNOT_TRANSCRIPTS = 600


def _placed(rng, chroms: dict[str, int], n: int, lengths: np.ndarray) -> pd.DataFrame:
    """``n`` intervals of the given lengths, uniform over the genome."""
    names = np.array(list(chroms))
    sizes = np.array(list(chroms.values()), dtype=np.int64)
    which = rng.choice(len(names), size=n, p=sizes / sizes.sum())
    room = np.maximum(sizes[which] - lengths, 1)
    start = (rng.random(n) * room).astype(np.int64)
    return pd.DataFrame(
        {
            "Chromosome": names[which],
            "Start": start,
            "End": start + lengths,
            "Strand": np.where(rng.random(n) < 0.5, "+", "-"),
        }
    )


def make_reads_vs_genes(seed: int, root: str) -> dict:
    rng = np.random.default_rng([seed, 1])
    reads = _placed(rng, RVG_CHROMS, RVG_READS, rng.integers(50, 301, RVG_READS))
    reads.insert(0, "read_id", np.arange(RVG_READS, dtype=np.int64))
    reads["MapQ"] = rng.integers(0, 61, RVG_READS).astype(np.int32)
    reads["Weight"] = rng.random(RVG_READS)
    reads["Barcode"] = np.char.add("BC", rng.integers(0, 10_000, RVG_READS).astype(str))
    # Heavy-tailed gene lengths: lognormal around 20 kb, capped at 4 Mb, so
    # the longest genes span dozens of 100 kb join bins.
    glen = np.minimum(rng.lognormal(np.log(20_000), 1.3, RVG_GENES), 4_000_000).astype(np.int64)
    genes = _placed(rng, RVG_CHROMS, RVG_GENES, np.maximum(glen, 200))
    genes.insert(0, "gene_id", np.char.add("G", np.arange(RVG_GENES).astype(str)))
    genes["Biotype"] = rng.choice(["coding", "lncRNA", "pseudo"], RVG_GENES)
    paths = {
        "reads": os.path.join(root, "reads.parquet"),
        "genes": os.path.join(root, "genes.parquet"),
    }
    for key, frame in (("reads", reads), ("genes", genes)):
        os.makedirs(paths[key], exist_ok=True)
        for i, rows in enumerate(np.array_split(np.arange(len(frame)), RVG_SPLITS)):
            frame.iloc[rows].to_parquet(os.path.join(paths[key], f"part-{i:03d}.parquet"), index=False)
    return {"reads": reads, "genes": genes, "paths": paths}


def write_genome(rng, root: str) -> tuple[dict[str, str], str]:
    genome = {
        c: rng.choice(np.frombuffer(b"ACGT", dtype=np.uint8), n).tobytes().decode()
        for c, n in GENOME_CHROMS.items()
    }
    fasta = os.path.join(root, "genome.fa")
    with open(fasta, "w") as fh:
        for c, s in genome.items():
            fh.write(f">{c}\n")
            for i in range(0, len(s), 60):
                fh.write(s[i : i + 60] + "\n")
    return genome, fasta


def make_reads_sweep(seed: int, root: str) -> dict:
    rng = np.random.default_rng([seed, 2])
    reads = _placed(rng, GENOME_CHROMS, SWEEP_READS, rng.integers(50, 301, SWEEP_READS))
    reads["Name"] = np.char.add("r", np.arange(SWEEP_READS).astype(str))
    reads["Score"] = rng.integers(0, 1000, SWEEP_READS)
    reads = reads[["Chromosome", "Start", "End", "Name", "Score", "Strand"]]
    path = os.path.join(root, "reads.bed")
    reads.to_csv(path, sep="\t", header=False, index=False)
    genome, fasta = write_genome(rng, root)
    return {
        "reads": reads,
        "genome": genome,
        "paths": {"bed": path, "fasta": fasta, "out": os.path.join(root, "merged.bed")},
    }


def make_annotation(seed: int, root: str) -> dict:
    """Transcripts of 1-12 exons; neighbouring transcripts of a gene share
    loci, so exons overlap across transcripts but never within one."""
    rng = np.random.default_rng([seed, 3])
    rows = []
    names = list(GENOME_CHROMS)
    for t in range(ANNOT_TRANSCRIPTS):
        chrom = names[(t // 2) % len(names)]
        size = GENOME_CHROMS[chrom]
        n_exons = int(rng.integers(1, 13))
        exon_len = rng.integers(50, 400, n_exons)
        intron_len = rng.integers(60, 3000, n_exons)
        # Transcripts come in pairs (one gene) that start near one another;
        # the longest transcript spans under 45 kb.
        anchor = int(rng.integers(0, size - 50_000)) if t % 2 == 0 else prev_anchor
        start = anchor + int(rng.integers(0, 2_000))
        prev_anchor = anchor
        strand = "+" if rng.random() < 0.5 else "-"
        pos = start
        for e in range(n_exons):
            rows.append((chrom, pos, pos + int(exon_len[e]), strand, f"g{t // 2}", f"t{t}"))
            pos += int(exon_len[e] + intron_len[e])
    exons = pd.DataFrame(
        rows, columns=["Chromosome", "Start", "End", "Strand", "gene_id", "transcript_id"]
    )
    gtf = os.path.join(root, "annotation.gtf")
    with open(gtf, "w") as fh:
        for r in exons.itertuples(index=False):
            fh.write(
                f"{r.Chromosome}\tbench\texon\t{r.Start + 1}\t{r.End}\t.\t{r.Strand}\t.\t"
                f'gene_id "{r.gene_id}"; transcript_id "{r.transcript_id}";\n'
            )
    genome, fasta = write_genome(rng, root)
    return {"exons": exons, "genome": genome, "paths": {"gtf": gtf, "fasta": fasta}}


MAKERS = {
    "reads_vs_genes": make_reads_vs_genes,
    "reads_sweep": make_reads_sweep,
    "annotation_small": make_annotation,
}
