"""Seeded input generators for the benchmark workloads.

Python + numpy + pyarrow, no Spark session: the same seed gives
byte-identical tables and files, and every workload sees only what these
functions make.  Vocabulary and shape families come from the program
(`pipeline.synth.ENTITY_LEXICON`, `scripts/many_shapes_bench.py`).
Sizes are fixed per workload; the seed changes content, not volume, so work
per operation is steady across seeds.
"""

from __future__ import annotations

import importlib.util
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from shacl_js_spark.pipeline.synth import ENTITY_LEXICON

# The pipeline's linkable surface forms plus filler words that never link.
LEXICON_WORDS = list(ENTITY_LEXICON)
FILLER_WORDS = ["a", "agg", "big", "column", "vector", "ingest"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
N_SOURCES = 20  # one source in 20 is the deterministic 5% slice shapes can fail
SHINGLE_N = 3  # token n-gram size of the near-duplicate search
DUP_MIN_TOKENS = 60  # a planted copy differs in one token: jaccard >= 0.9

DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("source", pa.string()),
    ("n_chars", pa.int64()),
])


def kg_documents(seed: int, n_docs: int, n_dups: int = 0) -> pa.Table:
    """Documents in the pipeline's raw schema (see `kg_corpus`)."""
    return kg_corpus(seed, n_docs, n_dups)[0]


def kg_corpus(seed: int, n_docs: int, n_dups: int = 0) -> tuple[pa.Table, list[int]]:
    """Documents in the pipeline's raw schema, and for each planted copy the
    id of the document it was made from.  The first n_docs - n_dups
    documents are drawn at random, 10-99 tokens each; the last n_dups are
    copies of distinct earlier documents of at least DUP_MIN_TOKENS tokens,
    with one interior token replaced.  Sources are an exact round-robin over
    a seeded permutation, so every source holds 1/N_SOURCES of the docs
    whatever the seed."""
    rng = np.random.default_rng(seed)
    words = LEXICON_WORDS + FILLER_WORDS
    # heavier weight on lexicon words, as in the pipeline's reference corpus
    weights = np.array([3.0] * len(LEXICON_WORDS) + [1.0] * len(FILLER_WORDS))
    weights /= weights.sum()
    n_base = n_docs - n_dups
    lengths = rng.integers(10, 100, size=n_base)
    flat = rng.choice(len(words), size=int(lengths.sum()), p=weights)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    toks = [flat[a:b].tolist() for a, b in zip(bounds[:-1], bounds[1:])]
    bases = sorted(rng.choice(np.flatnonzero(lengths >= DUP_MIN_TOKENS), n_dups, replace=False))
    for base in bases:
        copy = list(toks[base])
        j = int(rng.integers(SHINGLE_N, len(copy) - SHINGLE_N))
        copy[j] = (copy[j] + int(rng.integers(1, len(words)))) % len(words)
        toks.append(copy)
    texts = [" ".join(words[w] for w in t) for t in toks]
    langs = [LANGS[i] for i in rng.integers(0, len(LANGS), size=n_docs)]
    sources = [f"src{p % N_SOURCES}" for p in rng.permutation(n_docs)]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": sources,
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        schema=DOC_SCHEMA,
    )
    return table, [int(b) for b in bases]


def planted_pairs(docs: pa.Table, bases: list[int], threshold: float) -> dict:
    """Exact jaccard of token SHINGLE_N-gram sets, by brute force over the
    planted clusters (each copy with the document it was made from):
    {(a, b): jaccard rounded to 6 digits} for the pairs at or above
    `threshold`, a < b."""
    texts = docs.column("text").to_pylist()

    def shingles(text):
        t = text.split(" ")
        return {tuple(t[i:i + SHINGLE_N]) for i in range(max(len(t) - SHINGLE_N + 1, 1))}

    out = {}
    for b, a in enumerate(bases, start=len(texts) - len(bases)):
        sa, sb = shingles(texts[a]), shingles(texts[b])
        j = round(len(sa & sb) / len(sa | sb), 6)
        if j >= threshold:
            out[(a, b)] = j
    return out


def write_parquet(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return path


# --- shapes ------------------------------------------------------------------
# The constraint families and violating variants of the repository's
# many-shapes scaling script (scripts/many_shapes_bench.py, violating=True),
# wrapped in named property shapes.  Shape text depends on the shape count
# only, not on the seed.

def _many_shapes():
    root = os.getcwd()
    spec = importlib.util.spec_from_file_location(
        "many_shapes_bench", os.path.join(root, "scripts", "many_shapes_bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_MSB = _many_shapes()
# whether the generated graph fails each violating variant, in order: the
# src19 slice, documents naming all 25 surfaces, short labels, a control
VIOLATING_FAILS = (True, True, True, False)


def shape_decls(n_shapes: int) -> list[tuple[str, str, bool | None]]:
    """-> [(node shape local name, turtle declaration, fails)]: the last
    len(VIOLATING_FAILS) shapes are the violating variants, with `fails`
    telling whether the graph violates them; the family shapes have
    fails=None."""
    violating = _MSB._VIOLATING
    out = []
    for i in range(n_shapes):
        k = i - (n_shapes - len(violating))
        if k >= 0:
            (target, path, body), fails = violating[k], VIOLATING_FAILS[k]
        else:
            (target, path, body), fails = _MSB._CONSTRAINTS[i % len(_MSB._CONSTRAINTS)], None
        body = body.format(k=1 + (i % 3), k1=1 + (i % 2))
        # a named property shape (not a blank node) gives every report row
        # a source_shape that is the same in a wide and a single-shape run
        out.append((
            f"Bench{i}",
            f"ex:Bench{i} a sh:NodeShape ; sh:targetClass {target} ;\n"
            f"  sh:property ex:Bench{i}P .\n"
            f"ex:Bench{i}P sh:path {path} ; {body} .",
            fails,
        ))
    return out


def shapes_ttl(decls) -> str:
    return _MSB.HEADER + "\n".join(d[1] for d in decls)
