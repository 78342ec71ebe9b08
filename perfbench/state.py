"""Reset module-level state of the engine between measured passes.

Memo dictionaries (query-history, BPE, centroid and scan fan-out memos
today) outlive ``spark.catalog.clearCache()``, so a pass can reuse what
an earlier pass computed. Instead of clearing a list of memo names, which
goes stale when the engine renames one, :class:`ModuleState` imports the
whole package, keeps a shallow copy of every module-level dict, list and
set, and after each pass puts back any container whose contents changed.
"""

from __future__ import annotations

import importlib
import pkgutil
import sys
from types import ModuleType

_CONTAINERS = (dict, list, set)


def _identity(obj) -> object:
    # compare by element identity: values may be DataFrames, whose ``==``
    # builds a Column instead of comparing
    if isinstance(obj, dict):
        return [(k, id(v)) for k, v in obj.items()]
    if isinstance(obj, set):
        return {id(v) for v in obj}
    return [id(v) for v in obj]


class ModuleState:
    def __init__(self, package: str) -> None:
        pkg = importlib.import_module(package)
        for info in pkgutil.walk_packages(pkg.__path__, package + "."):
            importlib.import_module(info.name)
        self._saved: list[tuple[ModuleType, str, object, object]] = []
        for name, module in list(sys.modules.items()):
            if name != package and not name.startswith(package + "."):
                continue
            for attr, value in vars(module).items():
                if type(value) in _CONTAINERS:
                    self._saved.append((module, attr, value, value.copy()))

    def restore(self) -> list[str]:
        """Undo every change since construction; returns what was reset."""
        reset = []
        for module, attr, original, copy in self._saved:
            current = getattr(module, attr, None)
            if current is original and _identity(original) == _identity(copy):
                continue
            original.clear()
            if isinstance(original, list):
                original.extend(copy)
            else:
                original.update(copy)
            setattr(module, attr, original)
            reset.append(f"{module.__name__}.{attr}")
        return reset
