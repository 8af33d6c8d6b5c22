"""Each correctness check passes on a right result and fails on a
deliberately corrupted one."""

from __future__ import annotations

import duckdb
import pytest

from checks import (
    check_acks,
    check_backlog,
    check_delivery,
    check_oracle,
    check_throttle,
    failed_ops,
    rederive_throttle,
)
from drain import EMPTY_TABLES
from flow_spark.oracle import check_query
from flow_spark.queries.registry import Query

SEC = 1_000_000_000


class _Frame:
    """The two DataFrame members ``check_query`` reads."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return list(self._rows)


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sf")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        "(1, TIMESTAMP '2024-01-01 00:00:00', 7, 'view', 1.5, '{}'), "
        "(2, TIMESTAMP '2024-01-01 00:00:01', 7, 'click', 2.5, '{}'), "
        "(3, TIMESTAMP '2024-01-01 00:00:02', 8, 'view', 3.5, '{}')) "
        "t(event_id, ts, user_id, event_type, value, props)"
    )
    con.execute(f"COPY events TO '{d / 'events.parquet'}' (FORMAT parquet)")
    for name, cols in EMPTY_TABLES.items():
        con.execute(f"CREATE TABLE {name} ({cols})")
        con.execute(f"COPY {name} TO '{d / (name + '.parquet')}' (FORMAT parquet)")
    con.close()
    return str(d)


ORACLE = "SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id"


def _verdict(rows, sf_dir, oracle=ORACLE):
    q = Query("q", lambda spark, sf: _Frame(["user_id", "n"], rows), oracle, "test")
    return check_oracle(check_query(None, q, sf_dir), q)


def test_oracle_check_passes_on_right_rows(sf_dir):
    assert _verdict([(7, 2), (8, 1)], sf_dir) == []


def test_oracle_check_fails_on_dropped_row(sf_dir):
    assert _verdict([(7, 2)], sf_dir)


def test_oracle_check_fails_on_wrong_value(sf_dir):
    assert _verdict([(7, 2), (8, 2)], sf_dir)


def test_query_without_oracle_is_an_error(sf_dir):
    assert _verdict([(7, 2), (8, 1)], sf_dir, oracle=None)


def test_acks():
    assert check_acks({1: "OK", 2: "OK"}) == []
    assert failed_ops(check_acks({1: "OK", 2: "FAILED"})) == 1
    assert failed_ops(check_acks({1: None, 2: "FAILED"})) == 2  # None: never acked


ACKED = {1: "direct", 2: "limited", 3: "direct"}
RIGHT = [(1, "direct"), (2, "limited"), (3, "direct")]


def test_delivery_passes_when_exactly_once_and_routed():
    assert check_delivery(ACKED, RIGHT) == []


@pytest.mark.parametrize(
    "delivered",
    [
        RIGHT[:2],  # dropped
        RIGHT + [(3, "direct")],  # duplicated
        [(1, "direct"), (2, "direct"), (3, "direct")],  # misrouted
        RIGHT + [(9, "direct")],  # never acked
    ],
)
def test_delivery_fails_on_corruption(delivered):
    assert failed_ops(check_delivery(ACKED, delivered)) == 1


def test_delivery_with_nothing_acked_fails():
    assert check_delivery({}, [])


def _throttle_rows():
    # rps=1: cost 1 s, burst 0 -> per key, admit iff TAT <= t
    rows = []
    for eid, (key, t) in enumerate(
        [("a", 0), ("a", SEC // 2), ("a", SEC), ("a", 3 * SEC // 2), ("b", SEC // 2)]
    ):
        rows.append((eid, key, t))
    return rows


def test_rederived_verdicts_follow_gcra():
    assert rederive_throttle(_throttle_rows(), rps=1) == {
        0: True, 1: False, 2: True, 3: False, 4: True,
    }


def test_throttle_check_passes_and_fails_on_flipped_verdict():
    want = rederive_throttle(_throttle_rows(), rps=1)
    rows = [(e, k, t, "admitted" if want[e] else "throttled") for e, k, t in _throttle_rows()]
    assert check_throttle(rows, rps=1) == []
    flipped = [rows[0][:3] + ("throttled",)] + rows[1:]
    assert [f.ops for f in check_throttle(flipped, rps=1)] == [(0,)]


def test_throttle_check_cannot_pass_vacuously():
    assert check_throttle([], rps=1)
    all_admitted = [(0, "a", 0, "admitted")]
    assert check_throttle(all_admitted, rps=1)


def test_backlog_check_fails_over_capacity():
    assert check_backlog(3.0, 400) == []
    assert check_backlog(-25.0, 400) == []  # draining a start-up backlog
    (fail,) = check_backlog(120.0, 400)
    assert failed_ops([fail]) == 1
