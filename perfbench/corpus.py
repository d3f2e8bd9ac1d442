"""Seeded document corpus with exact and near-duplicate copies, and the
survivor checks for a curation pass.

Base documents draw 8-60 tokens uniformly from a 2,046-word vocabulary (one
in twenty is a 2-3 token stub the quality gate drops), so two unrelated
documents share almost no 3-word shingles and LSH links only real copies.
Each copied document is copied once: one copy in five is exact up to case
and punctuation (same fingerprint), the rest replace about one token in
twenty (near duplicates).  Every near-duplicate cluster is therefore a
pair, so the connected-components fixpoint takes the same number of rounds
for every seed; clusters of three or more converge in a number of rounds
that depends on how their ids happen to be ordered, which made pass time
differ by seed.  Ids are shuffled so copies are not adjacent to their
source.
"""

from __future__ import annotations

import hashlib
import random
import re

VOCAB = (
    "a the spark line column order small sort fast value scan hash slow group "
    "batch agg filter query big key window row part table stream merge data "
    "join vector customer index shard page cache node edge graph token text "
    "model train eval metric score rank bloom sketch lsh minhash"
).split() + [f"w{i:04d}" for i in range(2000)]


def generate(seed: int, n_base: int, n_copies: int) -> list[tuple[int, str]]:
    """``n_base`` documents plus one copy each of ``n_copies`` of them."""
    rng = random.Random(f"corpus:{seed}")
    base = [
        rng.choices(VOCAB, k=rng.randint(2, 3) if rng.random() < 0.05 else rng.randint(8, 60))
        for _ in range(n_base)
    ]
    texts = [" ".join(t) for t in base]
    for src in rng.sample(range(n_base), n_copies):
        toks = list(base[src])
        if rng.random() < 0.2:
            toks[0] = toks[0].capitalize()
            texts.append(" ".join(toks) + ".")
            continue
        for _ in range(max(1, len(toks) // 20)):
            toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
        texts.append(" ".join(toks))
    rng.shuffle(texts)
    return list(enumerate(texts))


def fingerprint(text: str) -> str:
    """Python restatement of ``functions.text.fingerprint`` (md5 of the
    lower-cased text with every non-alphanumeric removed), kept independent
    so the survivor check does not reuse the code under test."""
    return hashlib.md5(re.sub(r"[^a-z0-9]", "", text.lower()).encode()).hexdigest()


def digest(ids) -> str:
    return hashlib.sha256(
        ",".join(str(i) for i in sorted(ids)).encode()
    ).hexdigest()[:16]


def survivor_errors(docs: list[tuple[int, str]], survivors) -> list[str]:
    """Violations of the curation contract: survivors must be input ids and
    no two survivors may share an exact fingerprint."""
    texts = dict(docs)
    errors = []
    unknown = [i for i in survivors if i not in texts]
    if unknown:
        errors.append(f"{len(unknown)} survivor ids not in the input")
    seen = {}
    for i in survivors:
        if i in texts:
            fp = fingerprint(texts[i])
            if fp in seen:
                errors.append(f"survivors {seen[fp]} and {i} are exact duplicates")
                break
            seen[fp] = i
    if len(set(survivors)) != len(survivors):
        errors.append("survivor ids repeat")
    return errors


def digest_docs(rows) -> str:
    h = hashlib.sha256()
    for i, t in rows:
        h.update(f"{i}\t{t}\n".encode())
    return h.hexdigest()[:16]
