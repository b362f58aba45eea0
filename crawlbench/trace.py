"""In-memory spans around calls into the package's public functions.

The traced run wraps module-level functions and methods from the
benchmark's side: the program itself carries no tracing code. A span
is (name, start, end, parent); times are wall-clock milliseconds since
the epoch so they line up with Spark event-log timestamps.
"""

from __future__ import annotations

import inspect
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float
    parent: int | None


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append(Span(name, time.time() * 1000, 0.0, self._open[-1] if self._open else None))
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx].end_ms = time.time() * 1000

    def patch(self, owner: object, attr: str, replacement) -> None:
        """Replace ``owner.attr`` until ``uninstall()``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Record a span named ``name`` around every call of ``owner.attr``."""
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self.patch(owner, attr, traced)

    def wrap_functions(self, module, prefix: str) -> None:
        """Every public function defined in ``module``."""
        for attr, fn in list(vars(module).items()):
            if (
                inspect.isfunction(fn)
                and not attr.startswith("_")
                and fn.__module__ == module.__name__
            ):
                self.wrap(module, attr, f"{prefix}.{attr}")

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
