"""Session factory: the codegen cache and runtime confs."""

from __future__ import annotations

import importlib.util
import warnings
from pathlib import Path
from types import SimpleNamespace

import pytest
from pyspark.errors import AnalysisException

from pigout_spark.session import (
    CODEGEN_CACHE_CONF,
    CODEGEN_CACHE_ENTRIES,
    RUNTIME_CONFS,
    apply_runtime_confs,
    janino_compiles,
)

_RUN = Path(__file__).resolve().parent.parent / "perfbench" / "run.py"


def _relational_queries() -> list[str]:
    """The benchmark's relational query list, read from perfbench/run.py."""
    spec = importlib.util.spec_from_file_location("perfbench_run", _RUN)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.WORKLOADS["relational"][2]


def _codegen_cache(spark):
    """Spark's JVM-wide cache of compiled classes (a private field)."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    return field.get(None)


def test_prepared_queries_compile_once(spark, sf_dir):
    """A second pass of the relational list through its prepared handles
    compiles nothing: every generated class is still cached, although the
    list makes more classes than Spark's default cache (100) holds."""
    import __spark_entry__ as entrymod
    from pigout_spark import queries as qmod

    qs = {**qmod.extra_queries(), **entrymod.queries()}
    names = _relational_queries()

    def one_pass() -> int:
        before = janino_compiles(spark)
        for name in names:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return janino_compiles(spark) - before

    # a cold cache, so the first pass compiles each distinct class once
    _codegen_cache(spark).invalidateAll()
    assert one_pass() > 100
    assert one_pass() == 0


class _Conf:
    """A stand-in for ``spark.conf`` that refuses the keys in ``refuse``
    the way Spark refuses a conf it cannot modify."""

    def __init__(self, values: dict[str, str], refuse=(), error=None) -> None:
        self.values, self.refuse, self.error = dict(values), set(refuse), error

    def set(self, key: str, value: str) -> None:
        if key in self.refuse:
            raise self.error or AnalysisException(
                message=f"[CANNOT_MODIFY_CONFIG] Cannot modify {key!r}"
            )
        self.values[key] = value

    def get(self, key: str, default: str | None = None) -> str | None:
        return self.values.get(key, default)


def test_small_codegen_cache_warns_once():
    """A session built without the engine's codegen cache (the driver's)
    gets one RuntimeWarning that names the conf; the runtime confs are
    still applied."""
    conf = _Conf({})
    with pytest.warns(RuntimeWarning) as caught:
        apply_runtime_confs(SimpleNamespace(conf=conf))
    assert len(caught) == 1
    msg = str(caught[0].message)
    assert CODEGEN_CACHE_CONF in msg and "before the JVM starts" in msg
    assert all(conf.values[k] == v for k, v in RUNTIME_CONFS.items())


def test_engine_codegen_cache_does_not_warn():
    conf = _Conf({CODEGEN_CACHE_CONF: str(CODEGEN_CACHE_ENTRIES)})
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        apply_runtime_confs(SimpleNamespace(conf=conf))


def test_unmodifiable_conf_is_skipped():
    """A conf Spark refuses to modify keeps its value; the rest are set."""
    refused = "spark.sql.session.timeZone"
    conf = _Conf({CODEGEN_CACHE_CONF: str(CODEGEN_CACHE_ENTRIES)}, refuse={refused})
    apply_runtime_confs(SimpleNamespace(conf=conf))
    assert refused not in conf.values
    assert all(conf.values[k] == v for k, v in RUNTIME_CONFS.items() if k != refused)


def test_other_conf_errors_propagate():
    conf = _Conf({}, refuse={"spark.sql.adaptive.enabled"}, error=ValueError("boom"))
    with pytest.raises(ValueError, match="boom"):
        apply_runtime_confs(SimpleNamespace(conf=conf))
