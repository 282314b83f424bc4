"""Seeded input generators for the ETL workloads.

Every generator writes plain TSV files with Python's own `random.Random`,
so the same seed gives byte-identical files on any machine. Sizes and
shape distributions are fixed; the seed only decides identifiers, values
and which entity gets which share of the work. That keeps the amount of
work the same from seed to seed while the data itself changes.

    python3 perfbench/gen.py kg_ensembl <out_dir> --seed 7
    python3 perfbench/gen.py kg_annotated <out_dir> --seed 7

`--scale` shrinks or grows the entity counts; the benchmark's untimed
warm-up runs use a fifth.
"""
import argparse
import os
import random

# kg_ensembl: ENSEMBL gene -> UniProt protein rows, about 2 rows per gene.
ENSEMBL_GENES = 4000
# proteins per gene, as a fixed multiset (mean 2.0): most genes have one or
# two isoforms, a few have many
ENSEMBL_ISOFORMS = [1] * 45 + [2] * 30 + [3] * 15 + [4] * 6 + [5] * 2 + [8] * 2

# kg_annotated: genes, heavy-tailed GO annotations per gene, interactions.
ANNOTATED_GENES = 1500
ANNOTATION_MEAN = 30.0
ANNOTATION_ALPHA = 1.6          # Pareto tail index of annotations per gene
ANNOTATION_MAX = 2000           # cap on one hub's annotation count
INTERACTIONS_PER_GENE = 2.5
GO_TERMS = 4000
EVIDENCE_CODES = ["EXP", "IDA", "IPI", "IMP", "IGI", "IEP", "ISS", "IEA", "TAS", "NAS"]


def _gene_id(rng, used):
    while True:
        gid = "AT%dG%05d" % (rng.randint(1, 5), rng.randint(1, 99999))
        if gid not in used:
            used.add(gid)
            return gid


def _write_tsv(path, header, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="ascii", newline="\n") as f:
        f.write("\t".join(header) + "\n")
        for r in rows:
            f.write("\t".join(r) + "\n")


def kg_ensembl(out_dir, seed, scale=1.0):
    """One ENSEMBL→UniProt TSV, the shape of the reference's real case."""
    rng = random.Random(seed)
    used = set()
    n_genes = int(ENSEMBL_GENES * scale)
    genes = [_gene_id(rng, used) for _ in range(n_genes)]
    counts = [ENSEMBL_ISOFORMS[i % len(ENSEMBL_ISOFORMS)] for i in range(n_genes)]
    rng.shuffle(counts)
    rows = []
    for gene, n in zip(genes, counts):
        for k in range(1, n + 1):
            rows.append((gene, "%s.%d" % (gene, k)))
    rng.shuffle(rows)
    path = os.path.join(out_dir, "ensembl_uniprot.tsv")
    _write_tsv(path, ["ENSEMBL ID", "UniProt ID"], rows)
    return [path]


def _annotation_counts(n):
    """Fixed heavy-tailed multiset: the Pareto quantile at each rank, scaled
    to the wanted mean, so every seed gets the same counts."""
    raw = [min(ANNOTATION_MAX, (1.0 - (i + 0.5) / n) ** (-1.0 / ANNOTATION_ALPHA))
           for i in range(n)]
    scale = ANNOTATION_MEAN * n / sum(raw)
    return [max(1, min(ANNOTATION_MAX, int(round(r * scale)))) for r in raw]


def kg_annotated(out_dir, seed, scale=1.0):
    """Genes, their GO annotations (a few hubs carry thousands) and
    gene-gene interactions."""
    rng = random.Random(seed)
    used = set()
    n_genes = int(ANNOTATED_GENES * scale)
    genes = [_gene_id(rng, used) for _ in range(n_genes)]
    gene_rows = [(g, "SYM%d" % rng.randint(1, 10 ** 6), str(rng.randint(1, 5)),
                  "gene %s product %d" % (g.lower(), rng.randint(1, 999)))
                 for g in genes]
    counts = _annotation_counts(n_genes)
    rng.shuffle(counts)
    ann_rows = []
    for g, n in zip(genes, counts):
        for _ in range(n):
            ann_rows.append((g, "GO:%07d" % rng.randint(1, GO_TERMS),
                             rng.choice(EVIDENCE_CODES),
                             "PMID:%d" % rng.randint(10 ** 6, 4 * 10 ** 7)))
    rng.shuffle(ann_rows)
    edges = set()
    n_edges = int(n_genes * INTERACTIONS_PER_GENE)
    while len(edges) < n_edges:
        a, b = rng.sample(genes, 2)
        edges.add((a, b))
    edge_rows = [(a, b, str(rng.randint(1, 999)), rng.choice(["BioGRID", "IntAct", "STRING"]))
                 for a, b in sorted(edges)]
    rng.shuffle(edge_rows)
    paths = [os.path.join(out_dir, n) for n in
             ("genes.tsv", "annotations.tsv", "interactions.tsv")]
    _write_tsv(paths[0], ["gene_id", "symbol", "chromosome", "description"], gene_rows)
    _write_tsv(paths[1], ["gene_id", "go_term", "evidence", "publication"], ann_rows)
    _write_tsv(paths[2], ["gene_a", "gene_b", "score", "source"], edge_rows)
    return paths


GENERATORS = {"kg_ensembl": kg_ensembl, "kg_annotated": kg_annotated}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("workload", choices=sorted(GENERATORS))
    p.add_argument("out_dir")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--scale", type=float, default=1.0)
    a = p.parse_args()
    for path in GENERATORS[a.workload](a.out_dir, a.seed, a.scale):
        print(path)


if __name__ == "__main__":
    main()
