"""The tracing overhead compares against untraced values recorded by
the same code only."""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402


def _res(setup, cpu):
    return {"get_spark_s": setup, "job": {"init_s": 0.0, "cpu_s": cpu}}


def test_recorded_values_are_keyed_by_code(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    monkeypatch.setattr(run, "code_digest", lambda: "old")
    assert run.recorded_untraced("crawl_wide") is None
    run.record_untraced("crawl_wide", [_res(1.0, 10.0), _res(3.0, 30.0), _res(2.0, 20.0)])
    assert run.recorded_untraced("crawl_wide") == {"setup_s": 2.0, "cpu_s": 20.0}
    assert run.recorded_untraced("crawl_polite") is None
    monkeypatch.setattr(run, "code_digest", lambda: "new")
    assert run.recorded_untraced("crawl_wide") is None


def test_digest_covers_the_benchmark():
    assert len(run.code_digest()) == 16
    assert run.code_digest() == run.code_digest()
