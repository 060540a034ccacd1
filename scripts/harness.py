"""What the benchmark scripts share with ``bench.py``.

- ``HEADLINE``: the headline query ids, read from ``bench.py``'s
  ``headline = [...]`` literal with ``ast``, so ``bench.py`` keeps the
  one copy of the list and nothing has to import it;
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


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()
