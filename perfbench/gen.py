"""Seeded input generator for the benchmark workloads.

Everything the engine receives is written here, from one ``--seed``:

* a markdown corpus (headings, lists, pipe tables, code fences) whose
  words come from a seeded Zipf vocabulary drawn per topic, so hash
  embeddings cluster by topic and search has real neighbours;
* distinct text queries for the search workload, and a fresh markdown
  batch whose probe document carries a token planted only there;
* a JSONL curation corpus with planted exact duplicates, boilerplate
  lines, boilerplate-only documents, low-quality documents, perturbed
  near-duplicate copies and eval-set contamination, plus the eval set.

Each writer returns a manifest of what it planted; the workloads check
the engine's outputs against it. Only the standard library is used, so
the same seed gives byte-identical files on any host.

Self-check (same seed -> identical bytes, other seed -> different)::

    python3 perfbench/gen.py --self-check
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import json
import os
import random

# English function words; the first ten are the engine's "en" stopword
# list, so the quality gate sees natural stopword ratios.
STOP = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for",
        "with", "as", "on", "by", "from", "at", "this", "or", "be", "are"]
_ONSETS = ["b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t",
           "v", "z", "br", "cl", "dr", "gr", "pl", "st", "tr", "sh", "ch"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ou", "ea"]
_CODAS = ["", "", "n", "r", "s", "l", "m", "x", "nd", "st"]


class Vocab:
    """Seeded pseudo-word pool split into topics, each topic a Zipf
    distribution over its own words (a shared pool, so topics overlap a
    little as real vocabularies do)."""

    def __init__(self, rng: random.Random, n_topics: int = 12,
                 words_per_topic: int = 220, pool: int = 2400, zipf_s: float = 1.1):
        words: set[str] = set()
        while len(words) < pool:
            n_syl = rng.choice((2, 2, 3, 3, 4))
            w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(n_syl))
            w += rng.choice(_CODAS)
            if w not in STOP:
                words.add(w)
        self.pool = sorted(words)
        weights = [1.0 / (r + 1) ** zipf_s for r in range(words_per_topic)]
        self.cum = list(itertools.accumulate(weights))
        self.topics = [rng.sample(self.pool, words_per_topic) for _ in range(n_topics)]

    def word(self, rng: random.Random, topic: int) -> str:
        r = rng.random() * self.cum[-1]
        return self.topics[topic][bisect.bisect_left(self.cum, r)]

    def sentence(self, rng: random.Random, topic: int, n: int, stop_share: float = 0.3) -> str:
        toks = [rng.choice(STOP) if rng.random() < stop_share else self.word(rng, topic)
                for _ in range(n)]
        return " ".join(toks)


def _paragraph(v: Vocab, rng: random.Random, topic: int) -> str:
    return " ".join(v.sentence(rng, topic, 12).capitalize() + "." for _ in range(3))


def markdown_doc(v: Vocab, rng: random.Random, topic: int, extra: str = "") -> str:
    """One markdown document: title, two sections with paragraphs, and two
    of list, table and fenced-code blocks, so every parser branch runs.
    The shape is fixed, so corpus size hardly depends on the seed."""
    out = [f"# {v.sentence(rng, topic, 4, 0.0).title()}", "", _paragraph(v, rng, topic), ""]
    first = rng.randrange(3)
    for s in range(2):
        out += [f"## {v.sentence(rng, topic, 3, 0.0).title()}", "", _paragraph(v, rng, topic), ""]
        block = (first + s) % 3
        if block == 0:
            out += [f"- {v.sentence(rng, topic, 6)}" for _ in range(3)]
        elif block == 1:
            out.append("| " + " | ".join(v.word(rng, topic) for _ in range(3)) + " |")
            out.append("|---|---|---|")
            for _ in range(3):
                out.append("| " + " | ".join(v.sentence(rng, topic, 2, 0.0) for _ in range(3)) + " |")
        else:
            out += ["```python", f"{v.word(rng, topic)} = {rng.randint(100, 999)}",
                    f"{v.word(rng, topic)} = [{v.word(rng, topic)!r}, {v.word(rng, topic)!r}]",
                    f"print({v.word(rng, topic)})", "```"]
        out.append("")
    if extra:
        out += [extra, ""]
    return "\n".join(out)


def _write(path: str, text: str) -> int:
    data = text.encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def write_markdown_dir(v: Vocab, rng: random.Random, path: str, n_docs: int,
                       prefix: str, probe: str | None = None) -> dict:
    """``n_docs`` markdown files under ``path``; with ``probe``, the first
    file carries a paragraph made of that token repeated. Returns the
    dir's manifest: file names, bytes, probe file."""
    os.makedirs(path, exist_ok=True)
    files, n_bytes = [], 0
    for i in range(n_docs):
        name = f"{prefix}{i:04d}.md"
        extra = " ".join([probe] * 12) if probe and i == 0 else ""
        n_bytes += _write(os.path.join(path, name), markdown_doc(v, rng, rng.randrange(len(v.topics)), extra))
        files.append(name)
    return {"path": path, "files": files, "bytes": n_bytes,
            "probe": probe, "probe_file": files[0] if probe else None}


def write_search_inputs(seed: int, root: str, n_docs: int, n_queries: int, fresh_docs: int = 0) -> dict:
    """Corpus, distinct queries, and a fresh batch (not ingested by setup)
    whose first document carries a planted probe token."""
    rng = random.Random(seed)
    v = Vocab(rng)
    corpus = write_markdown_dir(v, rng, os.path.join(root, "corpus"), n_docs, "doc")
    fresh = write_markdown_dir(v, rng, os.path.join(root, "fresh"), fresh_docs, "fresh",
                               probe=f"probe{seed % 100000:05d}fresh") if fresh_docs else None
    queries: list[str] = []
    seen: set[str] = set()
    while len(queries) < n_queries:
        q = v.sentence(rng, rng.randrange(len(v.topics)), rng.randint(3, 6), 0.0)
        if q not in seen:
            seen.add(q)
            queries.append(q)
    return {"workload": "search", "seed": seed, "corpus": corpus, "fresh": fresh,
            "queries": queries, "input_bytes": corpus["bytes"]}


def _perturb_lines(v: Vocab, rng: random.Random, text: str, topic: int) -> str:
    """Replace one token on every line, so the copy shares no whole line
    with its original (line dedup leaves both alone) yet stays a
    near-duplicate under 3-shingle Jaccard."""
    out = []
    for line in text.split("\n"):
        toks = line.split(" ")
        i = rng.randrange(len(toks))
        new = toks[i]
        while new == toks[i]:
            new = v.word(rng, topic)
        toks[i] = new
        out.append(" ".join(toks))
    return "\n".join(out)


def _shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    toks = text.split()
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def write_curate_inputs(seed: int, root: str, n_unique: int, n_exact: int, n_near: int,
                        n_boiler_lines: int, n_boiler_docs: int, n_boiler_only: int,
                        n_lowq: int, n_contam: int, n_eval: int) -> dict:
    """JSONL curation corpus + eval set. Categories are disjoint, so the
    curate funnel is predictable stage by stage:

    exact copies -> exact dedup; boilerplate-only docs -> line dedup;
    low-quality docs -> quality gate; contaminated docs -> decontam."""
    rng = random.Random(seed)
    v = Vocab(rng)
    n_topics = len(v.topics)

    def lines(topic: int, n: int) -> list[str]:
        return [v.sentence(rng, topic, 28) for _ in range(n)]

    boiler = [v.sentence(rng, rng.randrange(n_topics), 8, 0.2) for _ in range(n_boiler_lines)]
    docs: list[dict] = []
    uniq = []
    for i in range(n_unique):
        t = rng.randrange(n_topics)
        uniq.append({"doc_id": f"u{i:05d}", "topic": t, "lines": lines(t, 4)})
    # disjoint roles over the unique docs
    roles = list(range(n_unique))
    rng.shuffle(roles)
    exact_src = roles[:n_exact]
    near_src = roles[n_exact:n_exact + n_near]
    contam = roles[n_exact + n_near:n_exact + n_near + n_contam]
    plain = roles[n_exact + n_near + n_contam:]
    # boilerplate lines go into plain docs only, each line into >= 2 docs
    for j in range(n_boiler_docs):
        d = uniq[plain[j % len(plain)]]
        d["lines"].insert(rng.randrange(len(d["lines"]) + 1), boiler[j % n_boiler_lines])
    # eval vocabulary: words no corpus topic draws, so eval 3-grams occur
    # only where a passage was planted
    used = set(itertools.chain.from_iterable(v.topics))
    eval_words = [w for w in v.pool if w not in used]
    ev_rng = random.Random(seed ^ 0x5EED)
    eval_set = [" ".join(ev_rng.choice(eval_words) for _ in range(14)) for _ in range(n_eval)]
    for j, idx in enumerate(contam):
        d = uniq[idx]
        d["lines"].insert(rng.randrange(len(d["lines"]) + 1), eval_set[j])
    for d in uniq:
        docs.append({"doc_id": d["doc_id"], "text": "\n".join(d["lines"])})
    pairs = []
    for j, idx in enumerate(exact_src):
        src = docs[idx]
        docs.append({"doc_id": f"x{j:05d}", "text": src["text"]})
        pairs.append((src["doc_id"], f"x{j:05d}", 1.0))
    for j, idx in enumerate(near_src):
        src = docs[idx]
        copy = _perturb_lines(v, rng, src["text"], uniq[idx]["topic"])
        a, b = _shingles(src["text"]), _shingles(copy)
        docs.append({"doc_id": f"n{j:05d}", "text": copy})
        pairs.append((src["doc_id"], f"n{j:05d}", len(a & b) / len(a | b)))
    for j in range(n_boiler_only):
        docs.append({"doc_id": f"b{j:05d}",
                     "text": "\n".join(boiler[(j + k) % n_boiler_lines] for k in range(2))})
    for j in range(n_lowq):
        # short, no stopwords, over-long tokens: quality far below any plain doc
        junk = " ".join(rng.choice(v.pool) * 3 for _ in range(4))
        docs.append({"doc_id": f"q{j:05d}", "text": junk})
    rng.shuffle(docs)
    os.makedirs(root, exist_ok=True)
    corpus = os.path.join(root, "corpus.jsonl")
    n_bytes = _write(corpus, "".join(json.dumps(d, sort_keys=True) + "\n" for d in docs))
    eval_path = os.path.join(root, "eval.jsonl")
    _write(eval_path, "".join(json.dumps({"doc_id": f"e{j:04d}", "text": t}, sort_keys=True) + "\n"
                              for j, t in enumerate(eval_set)))
    n0 = len(docs)
    n1 = n0 - n_exact
    n2 = n1 - n_boiler_only
    n3 = n2 - n_lowq
    return {
        "workload": "curate", "seed": seed, "corpus": corpus, "eval": eval_path,
        "input_bytes": n_bytes,
        "planted": {"exact_copies": n_exact, "near_copies": n_near,
                    "boilerplate_lines": n_boiler_lines, "boilerplate_only_docs": n_boiler_only,
                    "low_quality": n_lowq, "contaminated": n_contam},
        "funnel": {"input": n0, "exact": n1, "boilerplate": n2, "quality": n3,
                   "decontam": n3 - n_contam},
        "pairs": [[a, b] for a, b, _ in pairs],
        "pair_jaccard": [j for _, _, j in pairs],
    }


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for fn in sorted(filenames):
            p = os.path.join(dirpath, fn)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def self_check(work_dir: str) -> None:
    """Same seed -> byte-identical inputs; another seed -> different."""
    import shutil

    small = {
        "search": lambda s, r: write_search_inputs(s, r, 20, 30, 4),
        "curate": lambda s, r: write_curate_inputs(s, r, 60, 5, 5, 3, 10, 3, 4, 4, 8),
    }
    for name, make in small.items():
        digests = []
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            root = os.path.join(work_dir, f"{name}-{tag}")
            shutil.rmtree(root, ignore_errors=True)
            man = make(seed, root)
            digests.append(_digest(root) + hashlib.sha256(
                json.dumps(man, sort_keys=True).replace(root, "").encode()).hexdigest())
            shutil.rmtree(root)
        if digests[0] != digests[1]:
            raise SystemExit(f"self-check failed: {name} differs for the same seed")
        if digests[0] == digests[2]:
            raise SystemExit(f"self-check failed: {name} identical for different seeds")
        print(f"{name}: same seed identical, other seed different")


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--self-check", action="store_true")
    ap.add_argument("--dir", default=os.path.join(".perfbench-work", "gen-selfcheck"))
    args = ap.parse_args()
    if args.self_check:
        self_check(args.dir)
