"""What the benchmark scripts share with ``bench.py``.

- ``HEADLINE``: the headline query ids, read from ``bench.py``'s
  ``headline = [...]`` literal with ``ast``, so ``bench.py`` keeps the
  one copy of the list and nothing has to import it;
- ``session``: a SparkSession built with ``bench.py``'s exact builder
  conf, read from its ``SparkSession.builder`` chain with ``ast`` the
  same way;
- ``materialize``: runs a DataFrame to completion on the noop sink, the
  way ``bench.py`` times every query.
"""

from __future__ import annotations

import ast
import os

BENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"
)


def _bench_headline() -> list[str]:
    with open(BENCH) as fh:
        tree = ast.parse(fh.read())
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Assign)
            and isinstance(node.value, ast.List)
            and any(
                isinstance(t, ast.Name) and t.id == "headline"
                for t in node.targets
            )
        ):
            return ast.literal_eval(node.value)
    raise RuntimeError(f"no `headline = [...]` literal in {BENCH}")


HEADLINE = _bench_headline()


def _arg(node, cpus: str):
    # bench.py's builder arguments are literals, the name ``cpus`` and
    # the f-string ``f"local[{cpus}]"``
    if isinstance(node, ast.Name) and node.id == "cpus":
        return cpus
    if isinstance(node, ast.JoinedStr):
        return "".join(
            _arg(v.value, cpus) if isinstance(v, ast.FormattedValue)
            else v.value
            for v in node.values
        )
    return ast.literal_eval(node)


def bench_conf(cpus: str) -> list[tuple[str, tuple]]:
    """``bench.py``'s ``SparkSession.builder`` chain for ``cpus`` cores:
    ``[(method, args), ...]`` in call order, ``getOrCreate`` left out."""
    with open(BENCH) as fh:
        tree = ast.parse(fh.read())
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "getOrCreate"
        ):
            chain = []
            call = node.func.value
            while isinstance(call, ast.Call):
                chain.append(
                    (call.func.attr, tuple(_arg(a, cpus) for a in call.args))
                )
                call = call.func.value
            return chain[::-1]
    raise RuntimeError(f"no SparkSession.builder chain in {BENCH}")


def session(app_name: str):
    """A SparkSession with ``bench.py``'s conf under ``app_name``; the
    core count comes from ``$SPARK_GRAFT_CPUS`` as in ``bench.py``."""
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    builder = SparkSession.builder
    for method, args in bench_conf(cpus):
        if method == "appName":
            args = (app_name,)
        builder = getattr(builder, method)(*args)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()
