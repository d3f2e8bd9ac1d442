import threading

import pytest

from perfbench import spans


def _s(i, start, end, parent=None):
    return {"id": i, "name": f"s{i}", "start": start, "end": end,
            "parent": parent, "call_id": "c"}


def test_self_time_subtracts_children():
    ss = [_s(1, 0.0, 10.0), _s(2, 1.0, 4.0, 1), _s(3, 5.0, 9.0, 1)]
    st = spans.self_times(ss)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(4.0)


def test_self_time_counts_overlapping_children_once_and_clips():
    ss = [_s(1, 0.0, 10.0), _s(2, 2.0, 6.0, 1), _s(3, 4.0, 8.0, 1), _s(4, 9.0, 12.0, 1)]
    assert spans.self_times(ss)[1] == pytest.approx(10.0 - 6.0 - 1.0)


def test_tracer_links_parents_per_thread():
    tr = spans.Tracer()

    def work(tag):
        with tr.span("call", call_id=tag):
            with tr.span("child"):
                pass

    threads = [threading.Thread(target=work, args=(t,)) for t in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in threads)
    by_id = {s["id"]: s for s in tr.spans}
    children = [s for s in tr.spans if s["name"] == "child"]
    assert len(children) == 2
    for c in children:
        parent = by_id[c["parent"]]
        assert parent["name"] == "call"
        assert c["call_id"] == parent["call_id"]
        assert parent["start"] <= c["start"] <= c["end"] <= parent["end"]
