"""The benchmark's layer tracer (``perfbench/tracer.py``) must resolve
every entry point it wraps.  Checked here, without a Spark session, so
that a refactor moving a traced method (say ``Engine.run_incremental``
onto a base class) or a name the engine module imports fails Tier-1,
not only the slow ``perfbench/tests`` smoke run."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

TRACER = Path(__file__).resolve().parent.parent / "perfbench" / "tracer.py"


def _tracer():
    spec = importlib.util.spec_from_file_location("perfbench_tracer", TRACER)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # @dataclass resolves its module by name
    spec.loader.exec_module(mod)
    return mod


def test_every_layer_target_resolves_like_install():
    targets = _tracer().layer_targets()
    names = [name for _, _, name in targets]
    assert len(names) == len(set(names))
    for owner, attr, name in targets:
        # ``Tracer.install``'s lookup: a class's OWN __dict__ (an
        # inherited method would be patched on the wrong class), a
        # module's attribute (the global the caller resolves)
        if isinstance(owner, type):
            raw = owner.__dict__.get(attr)
        else:
            raw = getattr(owner, attr, None)
        assert raw is not None, f"{name}: {owner!r} has no own attribute {attr!r}"
        fn = raw.__func__ if isinstance(raw, classmethod) else raw
        assert callable(fn), f"{name}: {owner!r}.{attr} is not callable"
