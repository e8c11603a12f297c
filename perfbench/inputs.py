"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same pair
writes byte-identical files.  Inputs are cached under
``<cache>/inputs/<workload>-<size>-s<seed>`` and reused when the
``manifest.json`` written last is present.  The program under test
only ever receives the generated files.

The manifest records what the run reports about its input (MB, row
and document counts, planted duplicate shares) and, for
``gvf_annotate``, the sink row counts the pipeline must produce —
derived here from the generator's own draws, never from program
output.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Input sizes per workload.  ``full`` is what the benchmark measures;
#: ``tiny`` is for the self-test.
SIZES = {
    "gvf_annotate": {
        "full": {"n_variants": 130_000, "n_genes": 6_000, "n_files": 4},
        "tiny": {"n_variants": 2_000, "n_genes": 200, "n_files": 2},
    },
    "registry_mix": {
        "full": {"n_docs": 1_000, "n_vecs": 2_000, "n_orders": 15_000,
                 "n_parts": 2_000, "n_files": 4},
        "tiny": {"n_docs": 200, "n_vecs": 200, "n_orders": 1_500,
                 "n_parts": 200, "n_files": 2},
    },
}

#: Planted duplicate shares (of the base rows) — recorded in the output.
GVF_DUP_LINE_SHARE = 0.02
DOC_EXACT_SHARE = 0.05
DOC_NEAR_SHARE = 0.05

CHROMOSOMES = [str(c) for c in range(1, 20)] + ["X", "Y"]
BASES = "ACGT"
#: Effect names; the last two are on the annotate stage's intergenic
#: list, as is the 'intergenic' a variant without effects gets.
EFFECT_NAMES = (
    "intron_variant", "missense_variant", "synonymous_variant",
    "3_prime_UTR_variant", "upstream_gene_variant", "downstream_gene_variant",
)
INTERGENIC = {"intergenic", "upstream_gene_variant", "downstream_gene_variant"}
BIOTYPES = ("protein_coding", "lncRNA", "miRNA", "pseudogene")
WORDS = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector join customer the data plan shuffle task stage cache disk node "
    "rank edge graph token"
).split()


def dir_mb(path: str) -> float:
    """Size of the files under ``path``, in MB (1e6 bytes)."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:  # removed while walking (Spark temp files)
                pass
    return total / 1e6


def _write_text_parts(path: str, lines: list[str], n_files: int) -> None:
    """``path`` is a directory of plain-text part files (the layout's
    ``*.gvf.gz`` / ``*.gtf.gz`` names are directories, as Spark's
    writers produce them)."""
    os.makedirs(path)
    step = -(-len(lines) // n_files)
    for k in range(n_files):
        with open(os.path.join(path, f"part-{k:05d}"), "w") as f:
            chunk = lines[k * step:(k + 1) * step]
            f.write("\n".join(chunk) + ("\n" if chunk else ""))


def _write_table(path: str, table: pa.Table, rng: random.Random, n_files: int) -> None:
    """Permute the rows with the seed and split them into part files."""
    order = list(range(table.num_rows))
    rng.shuffle(order)
    table = table.take(pa.array(order, pa.int64()))
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(
            table.slice(k * step, step),
            os.path.join(path, f"part-{k:05d}.parquet"),
        )


# ---------------------------------------------------------------- gvf


def _gtf_lines(rng: random.Random, n_genes: int):
    """Two transcripts per gene plus an exon line the stage filters out.
    Returns (lines, transcript -> gene map)."""
    lines, gene_of = [], {}
    for g in range(n_genes):
        chrom = rng.choice(CHROMOSOMES)
        start = rng.randrange(1, 100_000_000)
        end = start + rng.randrange(1_000, 50_000)
        strand = rng.choice("+-")
        gid = f"ENSMUSG{g:08d}"
        name = f"Gm{rng.randrange(1, 10**6)}"
        bio = rng.choice(BIOTYPES)
        lines.append(
            f'{chrom}\thavana\tgene\t{start}\t{end}\t.\t{strand}\t.\t'
            f'gene_id "{gid}"; gene_name "{name}"; gene_biotype "{bio}";'
        )
        for k in range(2):
            tid = f"ENSMUST{2 * g + k:08d}"
            gene_of[tid] = gid
            attr = (
                f'gene_id "{gid}"; transcript_id "{tid}"; gene_name "{name}";'
                f' gene_biotype "{bio}";'
            )
            lines.append(
                f"{chrom}\thavana\ttranscript\t{start + 100 * k}\t{end - 100 * k}"
                f"\t.\t{strand}\t.\t{attr}"
            )
            lines.append(
                f"{chrom}\thavana\texon\t{start + 100 * k}\t{start + 500}"
                f"\t.\t{strand}\t.\t{attr} exon_number \"1\";"
            )
    return lines, gene_of


def _gvf(seed: int, spec: dict, out: str) -> dict:
    rng = random.Random(seed)
    n, n_genes = spec["n_variants"], spec["n_genes"]
    gtf, gene_of = _gtf_lines(rng, n_genes)
    n_tx = 2 * n_genes
    rsids = rng.sample(range(1, 200_000_000), n)
    lines: list[str] = []
    effects, metas, intragenic = set(), set(), set()
    for i in range(n):
        has_rsid = rng.random() >= 0.05
        rsid = rsids[i]
        n_eff = rng.choice((0, 1, 1, 2, 2, 3))
        terms = []
        for k in range(n_eff):
            name = rng.choice(EFFECT_NAMES)
            # 10% of effects point at a transcript the GTF lacks.
            t = rng.randrange(n_tx) if rng.random() >= 0.1 else n_tx + rng.randrange(n_tx)
            terms.append((name, f"ENSMUST{t:08d}", k))
        if terms and rng.random() < 0.05:
            terms.append(terms[0])  # repeated effect term: deduped downstream
        attrs = [f"ID={i}"]
        if has_rsid:
            attrs.append(f"Dbxref=dbSNP_150:rs{rsid}")
        attrs.append(f"Variant_seq={rng.choice(BASES)}")
        attrs.append(f"Reference_seq={rng.choice(BASES)}")
        if rng.random() < 0.5:
            attrs.append(
                f"global_minor_allele_frequency=0|{rng.random():.4f}|{rng.randrange(1, 5000)}"
            )
        if terms:
            attrs.append(
                "Variant_effect="
                + ",".join(f"{nm} {k} mRNA {tid}" for nm, tid, k in terms)
            )
        attrs.append("evidence_values=Frequency")
        pos = rng.randrange(1, 100_000_000)
        line = (
            f"{rng.choice(CHROMOSOMES)}\tdbSNP\tSNV\t{pos}\t{pos}\t.\t"
            f"{rng.choice('+-')}\t.\t{';'.join(attrs)}"
        )
        lines.append(line)
        if rng.random() < GVF_DUP_LINE_SHARE:
            lines.append(line)  # planted exact duplicate line
        if not has_rsid:
            continue
        metas.add(rsid)
        for nm, tid, _ in terms or [("intergenic", "", 0)]:
            effects.add((rsid, nm, tid))
            if nm not in INTERGENIC and tid in gene_of:
                intragenic.add((rsid, nm, gene_of[tid]))
    rng.shuffle(lines)
    gvf_dir = os.path.join(out, "variants-raw", "mm10-variants.gvf.gz")
    gtf_dir = os.path.join(out, "genes-raw", "mm10-gene-build.gtf.gz")
    _write_text_parts(gvf_dir, lines, spec["n_files"])
    _write_text_parts(gtf_dir, gtf, spec["n_files"])
    return {
        "input_mb": round(dir_mb(gvf_dir) + dir_mb(gtf_dir), 3),
        "gvf_lines": len(lines),
        "planted_dup_share": GVF_DUP_LINE_SHARE,
        "variant_raw_dir": os.path.dirname(gvf_dir),
        "gene_raw_dir": os.path.dirname(gtf_dir),
        "expected_rows": {
            "gene_meta": 2 * n_genes,
            "gene_dedup": n_genes,
            "variant_effects": len(effects),
            "variant_meta": len(metas),
            "intergenic": sum(1 for e in effects if e[1] in INTERGENIC),
            "intragenic": len(intragenic),
        },
    }


# ---------------------------------------------------------- documents


def _doc_text(rng: random.Random) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randrange(10, 100)))


def _documents(rng: random.Random, n_docs: int) -> tuple[pa.Table, dict]:
    """Base documents plus planted exact copies and near-duplicate
    edits (about 5% of words replaced), all with ids below 1,000,000
    (the queries' own twins use id + 1,000,000)."""
    texts = [_doc_text(rng) for _ in range(n_docs)]
    n_exact = round(n_docs * DOC_EXACT_SHARE)
    n_near = round(n_docs * DOC_NEAR_SHARE)
    for src in rng.sample(range(n_docs), n_exact):
        texts.append(texts[src])
    for src in rng.sample(range(n_docs), n_near):
        words = texts[src].split(" ")
        for j in rng.sample(range(len(words)), max(1, len(words) // 20)):
            words[j] = rng.choice(WORDS)
        texts.append(" ".join(words))
    n = len(texts)
    table = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(("en", "en", "en", "de", "zh")) for _ in range(n)]),
        "source": pa.array([f"src{rng.randrange(20)}" for _ in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, {
        "n_docs": n,
        "planted_exact_share": DOC_EXACT_SHARE,
        "planted_near_share": DOC_NEAR_SHARE,
    }


def _embeddings(rng: random.Random, n_vecs: int, dim: int = 64) -> pa.Table:
    nrng = np.random.default_rng(rng.randrange(2**32))
    centers = nrng.normal(0.0, 0.3, size=(10, dim))
    labels = nrng.integers(0, 10, size=n_vecs)
    vecs = (centers[labels] + nrng.normal(0.0, 0.1, size=(n_vecs, dim))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def _lineitem(rng: random.Random, n_orders: int, n_parts: int) -> pa.Table:
    """Orders of 1-7 lines over a part catalogue with a popular head,
    so the co-purchase graph has repeated pairs."""
    okeys, pkeys, lnums = [], [], []
    for o in range(n_orders):
        for ln in range(1, rng.randrange(2, 9)):
            p = rng.randrange(n_parts // 10) if rng.random() < 0.3 else rng.randrange(n_parts)
            okeys.append(o)
            pkeys.append(p)
            lnums.append(ln)
    return pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(pkeys, pa.int64()),
        "l_linenumber": pa.array(lnums, pa.int32()),
    })


def _registry(seed: int, spec: dict, out: str) -> dict:
    rng = random.Random(seed)
    docs, meta = _documents(rng, spec["n_docs"])
    tables = {
        "documents": docs,
        "embeddings": _embeddings(rng, spec["n_vecs"]),
        "lineitem": _lineitem(rng, spec["n_orders"], spec["n_parts"]),
    }
    for name, table in tables.items():
        _write_table(os.path.join(out, f"{name}.parquet"), table, rng, spec["n_files"])
    return {
        "input_mb": round(dir_mb(out), 3),
        "tables": sorted(tables),
        "n_vecs": spec["n_vecs"],
        "lineitem_rows": tables["lineitem"].num_rows,
        **meta,
    }


_GENERATORS = {
    "gvf_annotate": _gvf,
    "registry_mix": _registry,
}


def ensure_inputs(cache_dir: str, workload: str, seed: int, size: str) -> tuple[str, dict]:
    """Generate (or reuse) the inputs; returns (directory, manifest)."""
    out = os.path.join(cache_dir, "inputs", f"{workload}-{size}-s{seed}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return out, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    manifest = _GENERATORS[workload](seed, SIZES[workload][size], out)
    manifest.update(workload=workload, seed=seed, size=size)
    with open(manifest_path + ".tmp", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(manifest_path + ".tmp", manifest_path)
    return out, manifest
