from perfbench import corpus


def test_generation_is_seeded():
    assert corpus.generate(3, 50, 50) == corpus.generate(3, 50, 50)
    assert corpus.generate(3, 50, 50) != corpus.generate(4, 50, 50)
    assert len(corpus.generate(3, 50, 30)) == 80


def test_exact_copies_share_a_fingerprint():
    assert corpus.fingerprint("Spark join.") == corpus.fingerprint("spark join")
    assert corpus.fingerprint("spark join") != corpus.fingerprint("spark joins")


def test_survivor_errors():
    docs = [(0, "a b c"), (1, "A b c."), (2, "x y z")]
    assert corpus.survivor_errors(docs, [0, 2]) == []
    assert corpus.survivor_errors(docs, [0, 1])  # exact duplicates
    assert corpus.survivor_errors(docs, [0, 9])  # not an input id
    assert corpus.survivor_errors(docs, [2, 2])  # repeated id


def test_digest_ignores_order():
    assert corpus.digest([3, 1, 2]) == corpus.digest([1, 2, 3])
    assert corpus.digest([1, 2]) != corpus.digest([1, 2, 3])
