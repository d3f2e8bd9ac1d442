import json

import pytest

from perfbench import answers
from tests import traffic_sim

BOX = (118.0, 116.0, 39.0, 36.0)  # facade order
COLUMNS = {
    "accident": ("time_period", "accident_num"),
    "overspeed": ("car_type", "time_period", "speed_limit_num"),
    "avgspeed": ("time_point", "car_type", "time_period", "avg_carspeed"),
}
CASES = [
    ("accident", BOX + ("2016-07-01", "2016-09-15")),
    ("overspeed", BOX + ("2016-06-15", "2016-08-02")),
    ("avgspeed", BOX + ("2016-06-20",)),
]


@pytest.fixture(scope="module")
def base(tmp_path_factory):
    b = tmp_path_factory.mktemp("traffic")
    traffic_sim.generate(b, seed=5)
    return b


def _json_rows(kind, rows):
    return [json.dumps(dict(zip(COLUMNS[kind], r))) for r in sorted(rows)]


@pytest.mark.parametrize("kind,args", CASES)
def test_check_accepts_the_oracle_answer(base, kind, args):
    want = answers.oracle(traffic_sim, base, kind, args)
    assert want
    assert answers.matches(kind, want, _json_rows(kind, want))


@pytest.mark.parametrize("kind,args", CASES)
def test_check_rejects_a_wrong_answer(base, kind, args):
    want = answers.oracle(traffic_sim, base, kind, args)
    rows = sorted(want)
    wrong = list(rows)
    *head, last = wrong[0]
    wrong[0] = (*head, last + 1)
    assert not answers.matches(kind, want, _json_rows(kind, wrong))
    assert not answers.matches(kind, want, _json_rows(kind, rows[1:]))
    assert not answers.matches(kind, want, ['{"time_period": 1}'])


def test_averages_compare_at_nine_places():
    a = answers.canonical("avgspeed", [(0, "01", 3, 100.0000000001)])
    b = answers.canonical("avgspeed", [(0, "01", 3, 100.0)])
    c = answers.canonical("avgspeed", [(0, "01", 3, 100.00001)])
    assert a == b != c
