"""Pins for ``bench.py --ab-ref``'s per-round pairing: an errored timed
run must leave a hole at its round, never shift later samples into
another round's pair."""

from __future__ import annotations

from tests.test_bench_cache import _bench


class _StubWorker:
    """Answers ``run`` with a scripted time per (query, round), or an
    error dict where the script holds an exception message."""

    def __init__(self, script: dict[str, list]):
        self.script = script
        self.calls: dict[str, int] = {}

    def send(self, cmd: dict) -> dict:
        n = cmd["query"]
        i = self.calls.get(n, 0)
        self.calls[n] = i + 1
        out = self.script[n][i]
        return {"error": out} if isinstance(out, str) else {"sec": out}


def test_errored_round_is_skipped_not_shifted():
    bench = _bench()
    workers = {
        "head": _StubWorker({"q": ["boom", 10.0, 20.0], "p": [1.0, 1.0, 1.0]}),
        "ref": _StubWorker({"q": [10.0, 20.0, 40.0], "p": [2.0, 2.0, 2.0]}),
    }
    issues: list[dict] = []
    samples = bench._abref_rounds(workers, ["q", "p"], 3, "sf", issues)

    assert samples["q"] == {"head": [None, 10.0, 20.0], "ref": [10.0, 20.0, 40.0]}
    assert issues == [{"query": "q", "side": "head", "round": 0, "error": "boom"}]
    stats = bench._abref_query_stats(samples["q"]["head"], samples["q"]["ref"])
    # rounds 1 and 2 both ran ref 2x slower; dropping round 0's error
    # and pairing by position would match head's rounds 1-2 with ref's
    # rounds 0-1 and read 1.0
    assert stats["speedup_vs_ref_pairs"] == 2.0
    assert stats["head"]["median"] == 15.0 and stats["head"]["samples"][0] is None
    assert bench._abref_query_stats(
        samples["p"]["head"], samples["p"]["ref"]
    )["speedup_vs_ref_pairs"] == 2.0
