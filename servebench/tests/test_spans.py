import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Tracer  # noqa: E402


def test_gate_picks_roots_and_nested_calls_are_always_recorded():
    tracer = Tracer(gates={"read": lambda args: args[0] == "traced"})
    read = tracer._wrapper("read", lambda mark: mark)
    write = tracer._wrapper("write", lambda: read("plain"))

    read("traced")
    read("plain")  # a root the gate refuses: not recorded
    write()  # no gate: recorded, with the nested read inside it

    names = [(s.name, s.parent) for s in tracer.spans]
    assert names == [("read", None), ("write", None), ("read", 1)]
    assert tracer.spans[0].req != tracer.spans[1].req == tracer.spans[2].req
