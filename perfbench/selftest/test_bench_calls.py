import datetime as dt
import threading

from perfbench.calls import KINDS, CallStream, repeat_share


def test_stream_is_a_pure_function_of_seed_and_index():
    a, b = CallStream(7), CallStream(7)
    assert [a.call(i) for i in range(60)] == [b.call(i) for i in range(60)]
    assert [a.call(i) for i in range(60)] != [CallStream(8).call(i) for i in range(60)]
    assert a.call(31) == b.call(31)  # no hidden state between calls


def test_stream_is_independent_of_client_threads():
    s = CallStream(3)
    got, lock = {}, threading.Lock()
    counter = iter(range(90))

    def client():
        while True:
            with lock:
                i = next(counter, None)
            if i is None:
                return
            c = s.call(i)
            with lock:
                got[i] = c

    threads = [threading.Thread(target=client) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in threads)
    assert [got[i] for i in range(90)] == [CallStream(3).call(i) for i in range(90)]


def test_mix_ranges_and_clamp():
    s = CallStream(11)
    calls = [s.call(i) for i in range(600)]
    for k in KINDS:
        assert sum(c.kind == k for c in calls) == 200
    spans = set()
    clamped = 0
    for c in calls:
        lon_hi, lon_lo, lat_hi, lat_lo, *dates = c.args
        assert 115.0 <= lon_lo < lon_hi <= 120.0 and 35.0 <= lat_lo < lat_hi <= 41.0
        if c.kind == "avgspeed":
            d = dt.date.fromisoformat(dates[0])
            clamped += d < dt.date(2016, 7, 1)
        else:
            d0, d1 = (dt.date.fromisoformat(x) for x in dates)
            assert d0 <= d1
            spans.add((d1.year - d0.year) * 12 + d1.month - d0.month + 1)
    assert spans == set(range(1, 8))
    assert clamped > 0
    assert 0.3 < repeat_share(calls) < 0.7


def test_repeat_share_counts_exact_repeats():
    s = CallStream(1)
    c = s.call(0)
    assert repeat_share([c, c, c]) == 2 / 3
    assert repeat_share([]) == 0.0


def test_seed_never_changes_the_months_a_call_reads():
    from perfbench.traffic import call_months

    def months(seed):
        s = CallStream(seed)
        return [(c.kind, len(call_months(c))) for c in (s.call(i) for i in range(48))]

    assert months(1) == months(2) == months(3) == months(100)
