"""No public fill or finalize takes a caller-set path selector: where two
plans each win on some input, the code chooses from something it can
observe (value dtype, coefficient count, estimated size), so an ``engine=``
or ``pre_aggregate=`` parameter on a public function is a regression.

``depth`` is not walked: ``cms_states``/``cms_global`` take a count-min
row depth, a sketch size rather than a plan choice.
"""

import importlib
import inspect

import pytest

SELECTORS = {"engine", "pre_aggregate"}

# semantic_dedup(engine="exact"|"ivf") picks an algorithm with different
# output (exact pairwise cosine vs IVF-probed candidates), not a plan for
# the same answer, so it is the one function allowed a selector
EXEMPT = {("puddsketch_spark.ops.similarity", "semantic_dedup")}


@pytest.mark.parametrize("module", [
    "puddsketch_spark.spark.agg",
    "puddsketch_spark.spark.sketches",
    "puddsketch_spark.ops.dedup",
    "puddsketch_spark.ops.similarity",
])
def test_public_functions_take_no_path_selector(module):
    mod = importlib.import_module(module)
    found = {}
    for name in mod.__all__:
        fn = getattr(mod, name)
        if not inspect.isfunction(fn) or (module, name) in EXEMPT:
            continue
        bad = SELECTORS & set(inspect.signature(fn).parameters)
        if bad:
            found[name] = sorted(bad)
    assert not found, found
