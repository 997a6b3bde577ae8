import json

from spans import Tracer


def test_self_time_subtracts_direct_children(tmp_path):
    tr = Tracer("run-1")
    with tr.span("outer") as outer:
        with tr.span("child") as child:
            with tr.span("grandchild"):
                pass
    assert child.parent == outer.span_id
    assert tr.self_time(outer) == outer.duration - child.duration
    assert all(s.run_id == "run-1" for s in tr.spans)
    assert set(tr.self_times()) == {"outer", "child", "grandchild"}
    path = tmp_path / "spans.json"
    tr.dump(str(path))
    assert [s["name"] for s in json.loads(path.read_text())] == ["outer", "child", "grandchild"]


def test_span_closes_on_exception():
    tr = Tracer("run-2")
    try:
        with tr.span("fails"):
            raise ValueError
    except ValueError:
        pass
    with tr.span("next") as nxt:
        pass
    assert tr.spans[0].end >= tr.spans[0].start
    assert nxt.parent is None
