"""Seeded input generators and pure-Python gold restatements.

Every generator takes the workload seed; the program under test only
ever sees the rows produced here.  The gold side restates the
program's rules independently (no Spark, no program imports except the
stock corpus grammar ``sources.code_table.make_file`` the bulk and
incremental workloads draw their files from):

* ``build_triples_gold`` / ``canonical_triples_gold`` -- the
                        ``operators.triples`` subj/pred/obj rules;
* ``canonical_map``  -- blocked token-jaccard linking + union-find, the
                        rule ``operators.linking``/``components`` implement;
* ``pagerank_ref``   -- numpy power iteration, ``operators.graph.pagerank``'s
                        update rule;
* ``triple_digest``  -- order-insensitive (count, sum, sum) digest that the
                        Spark side computes with the same md5 slices.
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

import numpy as np

PRED_BY_ETYPE = {
    "func": "DEFINES",
    "class": "DEFINES_CLASS",
    "module": "IMPORTS",
    "package": "DECLARES_PACKAGE",
}
DEFINES = ("func", "class")
SOURCE_COLS = ("repo", "path", "commit", "lang", "content", "content_sha")

# linking rule constants (operators/linking.py defaults for domain="code")
LINK_THRESHOLD = 0.5
LINK_TOKEN_RE = re.compile(r"[._/ ]")
LINK_MAX_BLOCK = 1000

# pagerank rule constants (operators/graph.py defaults)
PR_ITERATIONS = 5
PR_DAMPING = 0.85


# ---------------------------------------------------------------- sources

def _source_row(repo: str, path: str, commit: str, lang: str,
                content: str) -> dict:
    return {
        "repo": repo, "path": path, "commit": commit, "lang": lang,
        "content": content,
        "content_sha": hashlib.sha256(content.encode()).hexdigest(),
    }


def bulk_corpus(seed: int, n_files: int) -> tuple[list[dict], list[tuple]]:
    """Stock code corpus (``code_table.make_file`` grammar) for ``seed``.

    Returns (source rows, gold mentions); a gold mention is
    (repo, path, content_sha, text, etype)."""
    from ner_funtool_spark.sources.code_table import make_file

    rows, gold = [], []
    for fid in range(n_files):
        f = make_file(fid, seed)
        row = _source_row(f["repo"], f["path"], f["commit"], f["lang"],
                          f["content"])
        rows.append(row)
        gold += [(row["repo"], row["path"], row["content_sha"], m[3], m[4])
                 for m in f["mentions"]]
    return rows, gold


def changed_file(seed: int, file_id: int, version: int) -> tuple[dict, list]:
    """File ``file_id`` of the incremental base corpus as of ``version``:
    identity (repo, path, lang) is fixed by the base draw, the content
    is redrawn from a version-derived seed.  Version 0 is the base."""
    from ner_funtool_spark.sources.code_table import make_file

    base = make_file(file_id, seed)
    f = base if version == 0 else make_file(
        file_id, derive(seed, "version", version))
    commit = hashlib.md5(f"{seed}:{file_id}:{version}".encode()).hexdigest()[:12]
    row = _source_row(base["repo"], base["path"], commit, base["lang"],
                      f["content"])
    gold = [(row["repo"], row["path"], row["content_sha"], m[3], m[4])
            for m in f["mentions"]]
    return row, gold


def batch_file_ids(seed: int, n_files: int, batch_size: int,
                   version: int) -> list[int]:
    """The distinct files an incremental batch changes (seeded)."""
    rng = np.random.default_rng(derive(seed, "batch", version))
    return sorted(int(i) for i in rng.choice(n_files, batch_size, replace=False))


def derive(seed: int, *parts) -> int:
    """A 32-bit sub-seed for one named stream of the workload seed."""
    h = hashlib.sha256(repr((seed,) + parts).encode()).digest()
    return int.from_bytes(h[:4], "little")


# --------------------------------------------------- canonicalization corpus

_KEYWORDS = {"def", "func", "function", "void", "class", "type", "import",
             "from", "package"}
_CONS = "bcdfghjklmnprstvz"
_VOWS = "aeiou"


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct pronounceable lowercase words (2-4 syllables)."""
    out: list[str] = []
    seen = set(_KEYWORDS)
    while len(out) < n:
        k = int(rng.integers(2, 5))
        c = rng.integers(0, len(_CONS), k)
        v = rng.integers(0, len(_VOWS), k)
        w = "".join(_CONS[a] + _VOWS[b] for a, b in zip(c, v))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def canon_corpus(seed: int, n_files: int = 256, n_chains: int = 2500,
                 chain_len: int = 4, n_verbs: int = 160,
                 n_nouns: int = 3000, n_modules: int = 1500
                 ) -> tuple[list[dict], list[tuple]]:
    """Few files, a large shared-token identifier vocabulary.

    Function names are sliding windows ``verb_w[j]_w[j+1]_w[j+2]`` over
    a random noun sequence per chain, so consecutive names share 3 of 5
    distinct tokens (jaccard 0.6 >= 0.5) and non-neighbours mostly do
    not: every chain is a link path of ``chain_len`` entities whose
    diameter forces several connected-components rounds.  The block key
    is (etype, verb); ~n_chains*chain_len/n_verbs entities per block
    stay under ``linking.MAX_BLOCK``.  Module names ``a.b`` add
    unlinked vocabulary.  Returns (source rows, gold mentions).
    """
    rng = np.random.default_rng(derive(seed, "canon"))
    words = _words(rng, n_verbs + n_nouns + 40)
    verbs, nouns, dirs = (words[:n_verbs], words[n_verbs:n_verbs + n_nouns],
                          words[n_verbs + n_nouns:])
    funcs: list[str] = []
    for c in range(n_chains):
        seq = rng.integers(0, n_nouns, chain_len + 2)
        v = verbs[c % n_verbs]
        funcs += [f"{v}_{nouns[seq[j]]}_{nouns[seq[j + 1]]}_{nouns[seq[j + 2]]}"
                  for j in range(chain_len)]
    pk = rng.integers(0, n_nouns, (n_modules, 2))
    modules = [f"{nouns[a]}.{nouns[b]}" for a, b in pk]
    lines = [f"def {f}(a, b):" for f in funcs]
    lines += [f"import {m}" for m in modules]
    lines += ["x = x + 1", "return result"] * (len(lines) // 8)
    order = rng.permutation(len(lines))
    per_file = -(-len(lines) // n_files)
    rows, gold = [], []
    for fid in range(n_files):
        chunk = [lines[i] for i in order[fid * per_file:(fid + 1) * per_file]]
        repo = f"org0/repo{fid % 3}"
        path = f"src/{dirs[fid % len(dirs)]}/file{fid}.py"
        commit = hashlib.md5(f"{seed}:canon:{fid}".encode()).hexdigest()[:12]
        row = _source_row(repo, path, commit, "python", "\n".join(chunk))
        rows.append(row)
        for line in chunk:
            if line.startswith("def "):
                gold.append((repo, path, row["content_sha"],
                             line[4:line.index("(")], "func"))
            elif line.startswith("import "):
                gold.append((repo, path, row["content_sha"], line[7:], "module"))
    return rows, gold


# ------------------------------------------------------------ gold rules

def file_uri(repo: str, path: str) -> str:
    return f"{repo}/{path}"


def mention_triple(repo: str, path: str, text: str, etype: str) -> tuple:
    """``operators.triples.mentions_to_triples`` for domain='code'."""
    furi = file_uri(repo, path)
    if etype in DEFINES:
        return (repo, PRED_BY_ETYPE[etype], f"{furi}::{text}")
    return (furi, PRED_BY_ETYPE[etype], text)


def contains_triple(repo: str, path: str) -> tuple:
    return (repo, "CONTAINS", file_uri(repo, path))


def build_triples_gold(rows: list[dict], gold: list[tuple]) -> list[tuple]:
    """``plans.kg.build_triples`` (subj, pred, obj) multiset."""
    out = [mention_triple(r, p, t, e) for r, p, _sha, t, e in gold]
    out += [contains_triple(r["repo"], r["path"]) for r in rows]
    return out


def canonical_triples_gold(rows: list[dict], gold: list[tuple],
                           canon: dict[str, str]) -> list[tuple]:
    """``plans.kg.build_canonical_triples`` (subj, pred, obj) multiset:
    mention objects replaced by their canonical id, one SAME_AS row per
    mention of a non-canonical surface form, CONTAINS per file."""
    out = []
    for r, p, _sha, t, e in gold:
        c = canon.get(t, t)
        out.append(mention_triple(r, p, c, e))
        if c != t:
            out.append((t, "SAME_AS", c))
    out += [contains_triple(r["repo"], r["path"]) for r in rows]
    return out


def _md5_pair(s: str) -> tuple[int, int]:
    h = hashlib.md5(s.encode()).hexdigest()
    return int(h[:8], 16), int(h[8:16], 16)


def triple_key(subj: str, pred: str, obj: str) -> str:
    """The string both sides hash: concat_ws('\\u0001', subj, pred, obj)."""
    return f"{subj}\x01{pred}\x01{obj}"


def triple_digest(triples) -> tuple[int, int, int]:
    """Order-insensitive multiset digest: (count, Σ md5[0:8], Σ md5[8:16])."""
    n = a = b = 0
    for t in triples:
        x, y = _md5_pair(triple_key(*t))
        n, a, b = n + 1, a + x, b + y
    return n, a, b


class UnionFind:
    def __init__(self):
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        p = self.parent.setdefault(x, x)
        if p != x:
            p = self.parent[x] = self.find(p)
        return p

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # keep the smaller id as root: root == component minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo


def canonical_map(nodes: set[tuple[str, str]],
                  max_block: int = LINK_MAX_BLOCK) -> dict[str, str]:
    """(text, etype) nodes -> {text: canonical id}: block on (etype,
    first raw token), link pairs whose distinct-token jaccard >=
    LINK_THRESHOLD, canonical id = lexicographic min of the component.

    Only the unrefined blocking path is restated, so a block over
    ``max_block`` (which the program would refine) is a generator bug
    and raises."""
    blocks: dict[tuple[str, str], list[tuple[str, frozenset]]] = defaultdict(list)
    for text, etype in nodes:
        raw = LINK_TOKEN_RE.split(text)
        blocks[(etype, raw[0])].append((text, frozenset(raw)))
    uf = UnionFind()
    for key, members in blocks.items():
        if len(members) > max_block:
            raise ValueError(f"block {key} has {len(members)} > {max_block} entities")
        for i, (ta, sa) in enumerate(members):
            uf.find(ta)
            for tb, sb in members[i + 1:]:
                if ta == tb:
                    continue
                ni = len(sa & sb)
                if ni / (len(sa) + len(sb) - ni) >= LINK_THRESHOLD:
                    uf.union(ta, tb)
    return {t: uf.find(t) for t in uf.parent}


def pagerank_ref(edges: list[tuple[str, str]]) -> dict[str, float]:
    """PR_ITERATIONS rounds of PageRank over the distinct edge set with
    dangling mass spread uniformly (unrounded)."""
    edges = sorted(set(edges))
    names = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(names)}
    n = len(names)
    src = np.array([idx[s] for s, _ in edges], dtype=np.int64)
    dst = np.array([idx[d] for _, d in edges], dtype=np.int64)
    od = np.bincount(src, minlength=n).astype(np.float64)
    dangling = od == 0
    pr = np.full(n, 1.0 / n)
    for _ in range(PR_ITERATIONS):
        contrib = np.bincount(dst, weights=pr[src] / od[src], minlength=n)
        dm = pr[dangling].sum()
        pr = (1.0 - PR_DAMPING) / n + PR_DAMPING * (contrib + dm / n)
    return dict(zip(names, pr.tolist()))
