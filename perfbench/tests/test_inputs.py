"""The benchmark's inputs are a pure function of the seed."""

import hashlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import inputs  # noqa: E402

SHAPE = dict(n_hosts=3, pages_per_host=12, mega_factor=2, branching=3)


def _digest(paths):
    h = hashlib.md5()
    for path in paths:
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _s, fs in os.walk(path) for f in fs)
        for f in files:
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_same_seed_same_bytes(tmp_path):
    a = inputs.write_crawl_corpus(str(tmp_path / "a"), 7, SHAPE, [inputs.DEAD_SEED])
    b = inputs.write_crawl_corpus(str(tmp_path / "b"), 7, SHAPE, [inputs.DEAD_SEED])
    assert _digest(a) == _digest(b)


def test_other_seed_other_text_same_links(tmp_path):
    a = inputs.write_crawl_corpus(str(tmp_path / "a"), 7, SHAPE, [])
    b = inputs.write_crawl_corpus(str(tmp_path / "b"), 8, SHAPE, [])
    assert _digest(a[:1]) != _digest(b[:1])
    pa, _ = inputs.crawl_pages(7, SHAPE, [])
    pb, _ = inputs.crawl_pages(8, SHAPE, [])
    assert sorted(pa) == sorted(pb)  # same url set: same wave shapes


def test_oracle_sees_the_written_seeds(tmp_path):
    import pyarrow.parquet as pq

    _pages, seeds_path = inputs.write_crawl_corpus(
        str(tmp_path / "c"), 5, SHAPE, [inputs.DEAD_SEED])
    _html, seeds = inputs.crawl_pages(5, SHAPE, [inputs.DEAD_SEED])
    assert pq.read_table(seeds_path).to_pylist() == seeds


SMALL = dict(lineitem=400, supplier=10, part=50, events=300, documents=60, embeddings=20)


def test_tables_same_seed_same_bytes(tmp_path):
    a = inputs.write_tables(str(tmp_path / "a"), 3, SMALL)
    b = inputs.write_tables(str(tmp_path / "b"), 3, SMALL)
    assert _digest([a]) == _digest([b])


def test_tables_other_seed_same_shape():
    a = inputs.analytics_tables(3, SMALL)
    b = inputs.analytics_tables(4, SMALL)
    assert sorted(a) == sorted(b)
    for name in a:
        assert a[name].schema == b[name].schema
        assert a[name].num_rows == b[name].num_rows
    assert not a["documents"].equals(b["documents"])
    assert a["documents"].num_rows == SMALL["documents"]
