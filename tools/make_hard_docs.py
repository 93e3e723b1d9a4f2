#!/usr/bin/env python
"""Build the HARD-mode dedup docs fixture: non-degenerate cluster truth.

The replicated sf10/sf100 document fixtures collapse to ONE simhash
component (proven exhaustively by tools/sf10_label_fixpoint.py — the
base sf0.1 corpus is ~3 template families over a tiny shared
vocabulary, and the `c<i> ` copy prefixes chain them together).  A
1-cluster ground truth only adjudicates "everything connected": a
trivially over-merging engine would pass it.  This fixture is the
counter-case, mirroring the round-15 IVF hard-fixture precedent
(IVF_HARD_SWEEP.json — seeded, generated, documented):

- FAMILIES distinct base documents, each 30 tokens drawn from a
  pool-sized synthetic vocabulary (`w<j>`) — family vocabularies
  overlap only by chance, so inter-family fingerprints are far apart
  and the truth partition has tens of thousands of clusters. The pool
  SCALES with the family count (round-16 VERDICT task 5): at a fixed
  200k pool the 2M-doc run re-used each token in ~30 base docs (vs
  ~7.5 at the healthy 500k run), correlating fingerprints across
  families until vocab-pool chaining merged 1.45M docs into one giant
  component — a mixed truth, not a fragmenting one. pool =
  max(200_000, 4 * families) keeps expected token reuse at the
  measured-healthy ~7.5 BASE docs per token at every scale, while the
  200k floor leaves every committed artifact (families <= 50k,
  including the r15 500k-doc run and the tests' tiny corpora)
  byte-identical to what this tool generated before the change;
- MEMBERS docs per family; member m replaces 0-3 random token
  positions with random pool tokens, so intra-family Hamming distances
  straddle the <=10 threshold — families FRAGMENT where perturbation
  pushes a member past it (richer structure than clean cliques, and
  exactly what the exhaustive ground truth needs no assumptions to
  adjudicate);
- deterministic: numpy RandomState(42), no timestamps — re-runs are
  byte-identical (TESTDATA.md seed discipline).

Schema matches documents.parquet (doc_id, text, lang, source, n_chars).

Usage: python tools/make_hard_docs.py [out_dir] [families] [members]
       (defaults: .scratch/hard_docs, 50000, 10)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
POOL_FLOOR = 200_000  # historical pool; floor keeps old runs byte-identical
POOL_PER_FAMILY = 4  # 30 tokens/base doc / 4 = ~7.5 base docs per token
DOC_TOKENS = 30


def pool_size(families: int) -> int:
    """Vocabulary pool scaled with family count (see module docstring)."""
    return max(POOL_FLOOR, POOL_PER_FAMILY * families)


def main() -> int:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, ".scratch", "hard_docs"
    )
    families = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    members = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    pool = pool_size(families)
    rng = np.random.RandomState(42)
    # (families, DOC_TOKENS) base token ids; duplicates within a doc are
    # harmless (the fingerprint is over DISTINCT tokens)
    base = rng.randint(0, pool, size=(families, DOC_TOKENS))
    # replicate per member, then perturb 0-3 positions per member doc
    toks = np.repeat(base, members, axis=0)  # (families*members, DOC_TOKENS)
    n_docs = toks.shape[0]
    n_repl = rng.randint(0, 4, size=n_docs)
    for r in (1, 2, 3):
        rows = np.nonzero(n_repl >= r)[0]
        toks[rows, rng.randint(0, DOC_TOKENS, size=rows.size)] = rng.randint(
            0, pool, size=rows.size
        )

    texts = [" ".join(f"w{t}" for t in row) for row in toks]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * n_docs),
            "source": pa.array(["hard"] * n_docs),
            "n_chars": pa.array(
                np.array([len(t) for t in texts], dtype=np.int64)
            ),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        table, os.path.join(out_dir, "documents.parquet"), compression="zstd"
    )
    print(
        f"[hard-docs] {n_docs} docs ({families}x{members}, pool {pool}) "
        f"-> {out_dir}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
