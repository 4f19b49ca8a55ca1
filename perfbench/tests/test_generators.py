import pandas as pd

from perfbench import corpus
from perfbench.lifecycle import KEYS, MAX_ROWS_PER_FRAGMENT, Plan


def test_corpus_is_a_function_of_the_seed():
    a, b, c = corpus.tables(3), corpus.tables(3), corpus.tables(4)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_corpus_files_are_byte_identical(tmp_path):
    corpus.write_corpus(5, str(tmp_path / "a"))
    corpus.write_corpus(5, str(tmp_path / "b"))
    for f in (tmp_path / "a").iterdir():
        assert f.read_bytes() == (tmp_path / "b" / f.name).read_bytes(), f.name


def test_lifecycle_plan_is_a_function_of_the_seed():
    a, b, c = Plan(9), Plan(9), Plan(10)
    assert a.rank == b.rank and a.rng_seed == b.rng_seed
    pd.testing.assert_frame_equal(a.initial.frame, b.initial.frame)
    for x, y in zip(a.writes + a.appends, b.writes + b.appends):
        pd.testing.assert_frame_equal(x.frame, y.frame)
        assert x.stats == y.stats
    assert a.rank != c.rank


def test_lifecycle_plan_touches_the_same_ranks_for_every_seed():
    a, b = Plan(1), Plan(2)

    def ranks(plan, batches):
        pos = {k: i for i, k in enumerate(plan.rank)}
        return [sorted(pos[k] for k in batch.stats) for batch in batches]

    assert ranks(a, a.writes) == ranks(b, b.writes)
    assert ranks(a, a.appends) == ranks(b, b.appends)
    assert a.rank != b.rank


def test_lifecycle_plan_is_zipf_skewed_over_all_partitions():
    plan = Plan(1)
    sizes = sorted((s.rows for s in plan.initial.stats.values()), reverse=True)
    assert len(sizes) == len(KEYS) == 100
    # the largest partitions span several fragments, the tail fits in one
    assert sizes[0] > 3 * MAX_ROWS_PER_FRAGMENT
    assert sizes[-1] < MAX_ROWS_PER_FRAGMENT
    assert sizes[0] > 20 * sizes[-1]
