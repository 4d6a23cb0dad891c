"""Seeded corpora for the benchmark workloads, with their planted truth.

The engine only ever sees the parquet files written here; the truth stays
on the benchmark side and is used to check the engine's clusters:

- `groups`: lists of doc ids that must all end in one cluster. Every pair
  inside a group is built well above the 0.8 Jaccard threshold.
- `must_not`: doc-id pairs built well below the threshold, which must never
  share a cluster.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Corpus:
    texts: list[str]                     # text of doc i (doc_id = i)
    groups: list[list[int]]              # must-pair families
    must_not: list[tuple[int, int]]      # must-not-pair pairs
    extra: dict = field(default_factory=dict)

    @property
    def n_docs(self) -> int:
        return len(self.texts)


def _groups_from_pairs(pairs: set[tuple[int, int]]) -> list[list[int]]:
    """Connected components of a pair set (the planted pairs are cliques,
    so every pair inside a component is itself a planted pair)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out: dict[int, list[int]] = {}
    for x in parent:
        out.setdefault(find(x), []).append(x)
    return [sorted(g) for g in out.values()]


def pages(seed: int, n_docs: int) -> Corpus:
    """`make_pages_corpus`: a web-like mix with ~20% duplicates. Its
    exact and near-dup pairs must pair; its borderline pairs (15-25% token
    edits) must not."""
    from distributed_lsh_spark.fixtures import make_pages_corpus

    pc = make_pages_corpus(n_rows=n_docs, seed=seed)
    must_not = [(r["base_id"], i) for i, r in enumerate(pc.rows)
                if r["kind"] == "border"]
    return Corpus(texts=[r["text"] for r in pc.rows],
                  groups=_groups_from_pairs(pc.truth_pairs),
                  must_not=must_not)


def _word(tok: str) -> str:
    """tok0123 -> a letters-only word, one-to-one over the fixture vocab."""
    i, s = int(tok[3:]), "w"
    for _ in range(3):
        s += chr(97 + i % 26)
        i //= 26
    return s


def chain_pages(seed: int, n_docs: int) -> Corpus:
    """`pages` rewritten so the funnel's quality tier keeps it: each fixture
    token maps one-to-one to a letters-only word and every doc starts with
    the stopwords "the a". A one-to-one token map keeps every shingle-set
    Jaccard, and the shared two-token prefix only adds shingles, so the
    planted truth still holds."""
    c = pages(seed, n_docs)
    c.texts = ["the a " + " ".join(_word(t) for t in text.split())
               for text in c.texts]
    return c


def dense_dups(seed: int, n_docs: int, hot_size: int) -> Corpus:
    """Near-duplicate families of 2-30 members, one template family of
    `hot_size` members, and decoy pairs, shuffled over the doc ids.

    A member is its family's base text plus one token of its own, so two
    members share all but one shingle each (Jaccard >= 0.96 for the 60-token
    template, >= 0.97 for 80-200-token bases) and are never byte-identical.
    A decoy is a base plus a copy with 30% of its tokens replaced (Jaccard
    far below 0.5)."""
    rng = random.Random(f"dense:{seed}:{n_docs}:{hot_size}")
    vocab = [f"v{i:04d}" for i in range(5000)]
    texts: list[str] = []
    groups: list[list[int]] = []
    must_not: list[tuple[int, int]] = []

    def base(lo: int, hi: int) -> list[str]:
        return [rng.choice(vocab) for _ in range(rng.randint(lo, hi))]

    def add(tokens: list[str]) -> int:
        texts.append(" ".join(tokens))
        return len(texts) - 1

    template = base(60, 60)
    groups.append([add(template + [f"hot{j}"]) for j in range(hot_size)])
    for _ in range(max(1, n_docs // 100)):
        toks = base(80, 200)
        copy = [rng.choice(vocab) if rng.random() < 0.3 else t for t in toks]
        must_not.append((add(toks), add(copy)))
    while len(texts) < n_docs:
        size = min(rng.randint(2, 30), n_docs - len(texts))
        if size < 2:
            add(base(80, 200))
            continue
        toks = base(80, 200)
        groups.append([add(toks + [f"m{len(texts)}"]) for _ in range(size)])
    # distinct families must stay apart: neighbouring families' first members
    must_not += [(g[0], h[0]) for g, h in zip(groups, groups[1:])]

    # spread families over the id range (and so over scan partitions)
    perm = list(range(len(texts)))
    rng.shuffle(perm)
    shuffled = [""] * len(texts)
    for old, new in enumerate(perm):
        shuffled[new] = texts[old]
    return Corpus(texts=shuffled,
                  groups=[sorted(perm[i] for i in g) for g in groups],
                  must_not=[(perm[a], perm[b]) for a, b in must_not])


def write_parquet(path: Path, ids: list[int], texts: list[str]) -> None:
    """One parquet file with several row groups, so Spark can split it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}),
                   tmp, row_group_size=max(1000, len(ids) // 32))
    tmp.replace(path)
