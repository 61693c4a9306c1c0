"""The benchmark's own logic: statistics, request generation and the
answer checks. No Spark; run with ``python -m pytest perfbench/tests``."""

from __future__ import annotations

import math

from perfbench import common, oracle, service


def test_tail_percentile_needs_ten_samples_beyond():
    pct, v = common.tail_percentile([float(i) for i in range(1, 201)])
    assert pct == 95 and math.isclose(v, 190.05)
    pct, v = common.tail_percentile([float(i) for i in range(1, 101)])
    assert pct == 90
    assert sum(1 for x in range(1, 101) if x > v) == 10


def test_tail_percentile_every_choice_has_ten_beyond():
    for n in (20, 37, 64, 150, 999):
        samples = [math.sin(i) for i in range(n)]  # unsorted, distinct
        pct, v = common.tail_percentile(samples)
        assert sum(1 for x in samples if x > v) >= 10
        if pct < 95:  # the next percentile up must fall short
            nxt = common.quantile(sorted(samples), (pct + 1) / 100)
            assert sum(1 for x in samples if x > nxt) < 10


def test_tail_percentile_falls_back_to_the_maximum():
    assert common.tail_percentile([1.0, 3.0, 2.0]) == (100, 3.0)


def _sequence(seed: int, client: int = 0) -> list[tuple[str, str]]:
    reqs = service.service_mix_requests(
        seed, client, 200, "/d/orders.parquet", "/d/documents.parquet",
        "/t/orders", [11, 12, 13], [5, 6, 7],
    )
    return [(r.kind, r.sql) for r in reqs]


def test_request_sequence_is_a_function_of_the_seed():
    assert _sequence(7) == _sequence(7)
    assert _sequence(7) != _sequence(8)
    assert _sequence(7, client=0) != _sequence(7, client=1)


def test_request_mix_has_every_part():
    kinds = {k for k, _ in _sequence(3)}
    assert "reject" in kinds
    assert {k for k in kinds if k.startswith("demo")}
    assert {"ice_current", "ice_point", "ice_version", "ice_snapshots"} <= kinds


def _churn(commits: list[tuple[int, int, float, float]]) -> service.Churn:
    """A churn checker over states 0..n whose answers are [[state, 0.0]]:
    the table existed before the run as snapshot 100 (state 0); each
    commit is (snapshot id, state, start, end)."""
    churn = object.__new__(service.Churn)
    churn.timeline = oracle.Timeline()
    churn.timeline.add(100, 0, -math.inf, -math.inf)
    churn.answers = [[[s, 0.0]] for s in range(len(commits) + 1)]
    churn.snapshot_answers = {100: churn.answers[0]}
    for sid, state, t0, t1 in commits:
        churn.timeline.add(sid, state, t0, t1)
        churn.snapshot_answers[sid] = churn.answers[state]
    return churn


def _read(kind: str, t0: float, t1: float, rows, expect: str = "fresh") -> service.Result:
    return service.Result(service.Request(kind, "SELECT ...", expect), t0, t1, 200, rows)


def test_churn_freshness_flags_a_stale_answer():
    churn = _churn([(101, 1, 10.0, 11.0), (102, 2, 20.0, 21.0)])
    # state 1 was current from 10 s until the second commit ended at 21 s
    assert churn.check(_read("churn_current", 12.0, 13.0, [[1, 0.0]]))
    assert churn.check(_read("churn_current", 20.5, 22.0, [[1, 0.0]]))
    # a read that started after commit 2 finished must not see state 1
    assert not churn.check(_read("churn_current", 21.5, 22.0, [[1, 0.0]]))
    assert not churn.check(_read("churn_current", 30.0, 31.0, [[0, 0.0]]))
    assert churn.check(_read("churn_current", 30.0, 31.0, [[2, 0.0]]))


def test_churn_listing_must_be_a_fresh_prefix():
    churn = _churn([(101, 1, 10.0, 11.0), (102, 2, 20.0, 21.0)])
    assert churn.check(_read("churn_snapshots", 25.0, 26.0, [[100], [101], [102]]))
    assert not churn.check(_read("churn_snapshots", 25.0, 26.0, [[100], [101]]))
    assert not churn.check(_read("churn_snapshots", 25.0, 26.0, [[100], [102]]))


def test_churn_time_travel_answers_are_pinned():
    churn = _churn([(101, 1, 10.0, 11.0)])
    assert churn.check(_read("churn_version", 50.0, 51.0, [[0, 0.0]], expect="100"))
    assert not churn.check(_read("churn_version", 50.0, 51.0, [[1, 0.0]], expect="100"))


def test_expected_reject_answered_200_is_a_failure():
    req = service.Request("reject", "DROP TABLE orders", "400")
    assert service.check(service.Result(req, 0.0, 1.0, 400, None), {})
    assert not service.check(service.Result(req, 0.0, 1.0, 200, [[1]]), {})
    assert not service.check(service.Result(req, 0.0, 1.0, 500, None), {})


def test_mix_p50_weights_each_kind_median_by_its_share():
    def res(kind: str, seconds: float) -> service.Result:
        return service.Result(service.Request(kind, "SELECT ...", "x"), 0.0, seconds, 200, [])

    fast = [res("demo", s) for s in (0.1, 0.1, 0.1, 9.0)]  # median 0.1 s
    slow = [res("ice", s) for s in (0.5, 0.5)]  # median 0.5 s
    assert math.isclose(service.mix_p50_ms(fast + slow, {"demo": 3, "ice": 1}), 200.0)
    # a kind the run never answered leaves the weights of the others
    assert math.isclose(service.mix_p50_ms(slow, {"demo": 3, "ice": 1}), 500.0)


def test_rows_match_tolerates_float_order_noise_only():
    want = [["O", 3, 1.0e9], ["F", 2, 0.5]]
    assert oracle.rows_match([["F", 2, 0.5], ["O", 3, 1.0e9 + 1e-3]], want)
    assert not oracle.rows_match([["F", 2, 0.5], ["O", 3, 1.0e9 + 10]], want)
    assert not oracle.rows_match([["F", 2, 0.5]], want)


def test_bag_draws_every_value_before_repeating_one():
    import random

    bag = service.Bag(random.Random(1))
    values = (1, 2, 3, 4, 5)
    for _ in range(3):
        assert sorted(bag.draw(values) for _ in values) == list(values)


def test_layer_self_times_add_up_to_the_request():
    from perfbench import trace

    spans = [  # [id, name, start, end, parent, request]
        [0, "api.handler", 0.0, 10.0, None, 0],
        [1, "engine.session", 1.0, 3.0, 0, 0],
        [2, "spark.collect", 4.0, 9.0, 0, 0],
        [3, "spark.sql", 5.0, 6.0, 2, 0],
    ]
    rep = trace.layer_report({"spans": spans, "counts": [[0, "iceberg_meta.listings", 2]],
                              "jobs": {}})
    ms = rep["layer_ms"]
    assert (ms["api.handler"], ms["engine.session"], ms["spark.collect"], ms["spark.sql"]) \
        == (3000.0, 2000.0, 4000.0, 1000.0)
    assert sum(ms.values()) == rep["handler_ms"] == 10000.0
    assert rep["counts"]["iceberg_meta.listings"] == 2


def test_catalog_expected_hashes_are_kept_per_input(tmp_path, monkeypatch):
    from types import SimpleNamespace

    from perfbench import catalog, datagen

    monkeypatch.setattr(common, "CACHE_DIR", str(tmp_path / "cache"))
    paths = {}
    for name in datagen.ALL_TABLES:
        paths[name] = str(tmp_path / f"{name}.parquet")
        with open(paths[name], "wb") as f:
            f.write(name.encode())
    cat = {op: SimpleNamespace(oracle=f"SELECT '{op}'") for op in catalog.OPERATORS}
    calls = []

    def oracle_hashes(paths, cat):
        calls.append(1)
        return {op: (["a"], f"{op}{len(calls)}") for op in catalog.OPERATORS}

    monkeypatch.setattr(catalog, "oracle_hashes", oracle_hashes)
    first = catalog.expected_hashes(paths, cat)
    assert catalog.expected_hashes(paths, cat) == first and len(calls) == 1
    with open(paths["orders"], "wb") as f:  # another table file: computed again
        f.write(b"changed")
    assert catalog.expected_hashes(paths, cat) != first and len(calls) == 2
