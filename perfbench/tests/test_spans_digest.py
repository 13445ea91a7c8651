"""Self-time arithmetic, the output digest and host sizing."""

from perfbench.digest import triple_digest
from perfbench.host import driver_heap_mb
from perfbench.spans import Span, Tracer, covered, self_time


class FakeClock:
    def __init__(self, times):
        self.times = iter(times)

    def __call__(self):
        return next(self.times)


def test_self_time_subtracts_the_union_of_children():
    parent = Span("p", 0.0, 10.0)
    kids = [Span("a", 1.0, 3.0), Span("b", 2.0, 5.0),   # overlap: [1, 5]
            Span("c", 8.0, 12.0)]                       # clipped to [8, 10]
    assert self_time(parent, kids) == 10.0 - 4.0 - 2.0


def test_covered_merges_touching_and_disjoint_intervals():
    assert covered([(0, 1), (1, 2), (5, 6)]) == 3
    assert covered([]) == 0


def test_tracer_nests_and_reports_self_time():
    # clock reads: outer start, inner1 start/end, inner2 start, leaf
    # start/end, inner2 end, outer end
    tr = Tracer(clock=FakeClock([0, 1, 3, 4, 5, 6, 9, 10]))
    with tr.span("outer"):
        with tr.span("inner1", layer="a"):
            pass
        with tr.span("inner2", layer="b"):
            with tr.span("leaf", layer="c"):
                pass
    names = [s.name for s in tr.spans]
    assert names == ["outer", "inner1", "inner2", "leaf"]
    assert [s.parent for s in tr.spans] == [None, 0, 0, 2]
    assert tr.self_time(0) == 10 - 2 - 5
    assert tr.self_time(2) == 5 - 1
    assert tr.self_time(3) == 1
    assert tr.innermost(5.5) == 3
    assert tr.innermost(3.5) == 0
    assert tr.innermost(11) is None


def test_one_row_change_flips_the_digest():
    rows = [("A", "birthPlace", "X"), ("B", "employer", "Y"),
            ("C", "almaMater", "Z")]
    n, h = triple_digest(rows)
    assert n == 3
    assert triple_digest(list(reversed(rows))) == (n, h)
    changed = rows[:2] + [("C", "almaMater", "W")]
    assert triple_digest(changed)[1] != h
    assert triple_digest(rows + rows[:1])[0] == 4   # duplicates count
    assert triple_digest(rows + rows[:1])[1] != h


def test_driver_heap_leaves_room_for_workers():
    for total in (2048, 8192, 16070, 65536):
        for cpus in (1, 4, 16):
            heap = driver_heap_mb(total, cpus)
            assert heap >= 1024
            assert heap <= max(1024, total // 4)
    assert driver_heap_mb(16070, 4) == 16070 // 4
