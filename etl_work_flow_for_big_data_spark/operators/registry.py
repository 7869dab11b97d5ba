"""Operator registry — analog of the reference's plugin loader.

Reference: ``SOContainer::m_GetCreatorFunction`` resolves a creator
symbol from a dlopen'd shared object and the framework instantiates one
session object per configured pipeline stage
(``/root/reference/SOContainer.cpp:67-88``,
``MFramework.cpp:744-773``). Our creator function is just a Python
callable; "loading" is registration; the per-stage instance is a
closure over the stage's params.

An operator is ``fn(df: DataFrame, **params) -> DataFrame`` and must be
a pure plan transform (no actions) so pipelines compile to one Catalyst
plan with no materialization barriers between stages.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame

OperatorFn = Callable[..., DataFrame]


class Registry:
    """Named plugins resolved at use time — the one lookup behind the
    reference's protocol factory (``ProtocolFactory.cpp:78-118``),
    operator loader (``SOContainer.cpp:67-88``) and session table
    (the streaming ``PipelineManager``). ``kind`` names what the
    registry holds in the unknown-name error."""

    def __init__(self, kind: str) -> None:
        self._kind = kind
        self._items: dict[str, Any] = {}

    def __contains__(self, name: str) -> bool:
        return name in self._items

    def register(self, name: str, fn: Any) -> None:
        self._items[name] = fn

    def get(self, name: str) -> Any:
        try:
            return self._items[name]
        except KeyError:
            raise KeyError(
                f"unknown {self._kind} {name!r}; registered: {self.names()}"
            ) from None

    def names(self) -> list[str]:
        return sorted(self._items)


class OperatorRegistry(Registry):
    def __init__(self) -> None:
        super().__init__("operator")

    def register(self, name: str, fn: OperatorFn) -> None:
        if name in self:
            raise ValueError(f"operator already registered: {name}")
        super().register(name, fn)

    def apply(self, name: str, df: DataFrame, params: dict[str, Any] | None = None) -> DataFrame:
        return self.get(name)(df, **(params or {}))


#: Process-global default registry (the reference keeps one
#: SessionDataMap per framework instance, MFramework.cpp:773).
DEFAULT = OperatorRegistry()


def operator(name: str, registry: OperatorRegistry = DEFAULT):
    """Decorator: register a DataFrame transform under ``name``."""

    def deco(fn: OperatorFn) -> OperatorFn:
        registry.register(name, fn)
        return fn

    return deco


def get_operator(name: str) -> OperatorFn:
    return DEFAULT.get(name)


def list_operators() -> list[str]:
    return DEFAULT.names()
