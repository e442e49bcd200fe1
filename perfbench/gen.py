"""Seeded input generator for the benchmark workloads.

Documents follow the recipe of ``corporate_knowledge_extractor_spark.corpus``
(``generate_doc``): a module header, maintainer comments carrying names /
emails / phones, import lines, function defs that call other entities,
junk blocks, and a def block repeated with trailing spaces. Every property
the engine's cost depends on is a parameter; the defaults are the stock
recipe's values at the same document count, so a workload that sets only
``n_docs`` serves the traffic the stock generator makes:

* ``n_docs`` and ``lines_per_doc`` — corpus size and mean document length
  (def blocks per doc are uniform in [1, (lines_per_doc - 9) / 3); the
  stock 1–8 defs give a mean of 36 lines);
* ``n_repos`` — the repository count, docs spread over it by the stock
  quadratic ramp that concentrates them in low repo ids (the skew the
  salting / AQE-skew paths handle); default ``corpus.n_repos_for_sf`` at
  ``n_docs / 500,000``;
* ``alias_pool`` and ``alias_skew`` — how many distinct entities function
  names are drawn from (default ``corpus.n_entities(n_docs)``) and the
  Zipf exponent of that draw (default 0: uniform, as stock);
* ``dup_block_share`` — the share of docs that repeat one of their def
  blocks with trailing spaces (stock 0.15: post_process dedup work);
* ``neardup_share`` and ``chain_depth`` — the share of documents that are
  edited copies of another document, and how many edits deep each copy
  chain runs (a chain of depth d is base -> v1 -> ... -> vd, each version
  an edit of the previous one, so clustering needs transitive closure).
  The stock recipe has none (0.0, 1);
* ``pii_density`` — the probability that a document carries a maintainer
  line (name + email); a support phone line follows independently with a
  third of it (stock 0.3 and 0.1).

The same (seed, params) always yields byte-identical documents. The
generator also returns the ground truth the benchmark checks outputs
against: the function names each document defines, and the edit links of
every near-duplicate chain.
"""

from __future__ import annotations

import hashlib
import itertools
import random
from dataclasses import dataclass

import pandas as pd

from corporate_knowledge_extractor_spark import corpus as stock

LANGS = ["python", "python", "python", "java", "go", "markdown"]
EXT = {"python": "py", "java": "java", "go": "go", "markdown": "md"}
VARS = ["out", "res", "val", "acc"]


@dataclass(frozen=True)
class Params:
    n_docs: int
    lines_per_doc: int = 36
    n_repos: int | None = None
    alias_pool: int | None = None
    alias_skew: float = 0.0
    dup_block_share: float = 0.15
    neardup_share: float = 0.0
    chain_depth: int = 1
    pii_density: float = 0.3

    def __post_init__(self):
        if self.n_repos is None:
            object.__setattr__(self, "n_repos", stock.n_repos_for_sf(self.n_docs / 500_000))
        if self.alias_pool is None:
            object.__setattr__(self, "alias_pool", stock.n_entities(self.n_docs))

    def key(self) -> str:
        return hashlib.sha1(repr(self).encode()).hexdigest()[:10]


class _Corpus:
    def __init__(self, seed: int, p: Params):
        self.seed = seed
        self.p = p
        weights = [1.0 / (k + 1) ** p.alias_skew for k in range(p.alias_pool)]
        self.cum = list(itertools.accumulate(weights))
        self.max_defs = max(2, round((p.lines_per_doc - 9) / 3))
        n_copies = int(p.n_docs * p.neardup_share)
        self.n_chains = n_copies // max(1, p.chain_depth)
        self.n_base = p.n_docs - self.n_chains * p.chain_depth

    def rng(self, *parts: int) -> random.Random:
        return random.Random(hash((self.seed,) + parts))

    def alias(self, rng: random.Random) -> str:
        e = rng.choices(range(self.p.alias_pool), cum_weights=self.cum)[0]
        return rng.choice(stock.entity_aliases(e))

    def repo(self, i: int) -> str:
        r = stock._repo_for_doc(i, self.p.n_docs, self.p.n_repos)
        return f"org{r // 10}/repo{r}"

    def base_doc(self, i: int) -> tuple[list[str], list[str]]:
        """(lines, defined function names) of an original document."""
        rng = self.rng(0, i)
        p = self.p
        lines = [f"# Module mod_{i} of {self.repo(i)}"]
        if rng.random() < p.pii_density:
            first, last = rng.choice(stock.FIRST_NAMES), rng.choice(stock.LAST_NAMES)
            lines.append(f"# Maintainer: {first} {last} <{first.lower()}.{last.lower()}@example.com>")
        if rng.random() < p.pii_density / 3:
            lines.append(f"# Support line: +1 {rng.randrange(200, 999)} 555 {rng.randrange(1000, 9999)}")
        lines.append("")
        for _ in range(rng.randrange(2, 7)):
            target = rng.randrange(p.n_docs)
            if rng.random() < 0.5:
                lines.append(f"import pkg{target % 7}.mod_{target}")
            elif rng.random() < 0.5:
                lines.append(f"import {rng.choice(stock.STDLIB)}")
            else:
                lines.append(f"from pkg{target % 7}.mod_{target} import {self.alias(rng)}")
        lines.append("")
        defined: list[str] = []
        blocks: list[list[str]] = []
        for _ in range(rng.randrange(1, self.max_defs)):
            fn = self.alias(rng)
            params = ", ".join(rng.sample(["x", "y", "key", "opts", "limit"], rng.randrange(0, 4)))
            block = [f"def {fn}({params}):",
                     f'    """{" ".join(rng.choice(stock.DOC_WORDS) for _ in range(rng.randrange(4, 10)))}"""']
            for _ in range(rng.randrange(1, 4)):
                block.append(f"    {rng.choice(VARS)} = {self.alias(rng)}({params.split(', ')[0] if params else ''})")
            block.append(f"    return {rng.choice(VARS)}")
            lines.extend(block)
            lines.append("")
            blocks.append(block)
            defined.append(fn)
        if rng.random() < 0.1:
            lines.extend(rng.sample(stock.JUNK_LINES, rng.randrange(1, len(stock.JUNK_LINES) + 1)))
            lines.append("")
        if rng.random() < p.dup_block_share:
            # an earlier def block again with trailing spaces: its
            # normalized form collides with the original's
            lines.extend(ln + "  " for ln in rng.choice(blocks))
            lines.append("")
        return lines, defined

    def edit(self, lines: list[str], chain: int, step: int) -> list[str]:
        """One revision: one word of one docstring replaced, so consecutive
        versions share all but about three word 3-grams, and versions
        several edits apart share fewer."""
        rng = self.rng(1, chain, step)
        out = list(lines)
        doc_lines = [k for k, ln in enumerate(out) if ln.startswith('    """')]
        k = rng.choice(doc_lines)
        words = out[k][7:-3].split(" ")
        words[rng.randrange(len(words))] = f"rev{step}"
        out[k] = f'    """{" ".join(words)}"""'
        return out

    def doc(self, i: int) -> tuple[list[str], list[str], int | None]:
        """(lines, defined names, previous version id or None) of doc ``i``:
        ids below n_base are originals; the rest are chain versions."""
        if i < self.n_base:
            lines, defined = self.base_doc(i)
            return lines, defined, None
        c, pos = divmod(i - self.n_base, self.p.chain_depth)
        base_id = c % self.n_base
        lines, defined = self.base_doc(base_id)
        for step in range(1, pos + 2):
            lines = self.edit(lines, c, step)
        prev = base_id if pos == 0 else i - 1
        return lines, defined, prev


def generate(seed: int, p: Params) -> tuple[pd.DataFrame, dict]:
    """Documents ``(doc_id, repo, path, commit, lang, content,
    content_sha256)`` plus ground truth ``{"defines": {doc_id: [fn, ...]},
    "doc_key": {doc_id: "repo/path"}, "links": [(prev_id, doc_id), ...]}``."""
    corpus = _Corpus(seed, p)
    rows, defines, doc_key, links = [], {}, {}, []
    for i in range(p.n_docs):
        lines, defined, prev = corpus.doc(i)
        lang = LANGS[corpus.rng(2, i).randrange(len(LANGS))]
        repo = corpus.repo(i)
        path = f"src/pkg{i % 7}/mod_{i}.{EXT[lang]}"
        content = "\n".join(lines)
        rows.append({
            "doc_id": i,
            "repo": repo,
            "path": path,
            "commit": hashlib.sha1(f"{seed}/{repo}/{path}".encode()).hexdigest(),
            "lang": lang,
            "content": content,
            "content_sha256": hashlib.sha256(content.encode()).hexdigest(),
        })
        defines[i] = defined
        doc_key[i] = f"{repo}/{path}"
        if prev is not None:
            links.append((prev, i))
    return pd.DataFrame(rows), {"defines": defines, "doc_key": doc_key, "links": links}
