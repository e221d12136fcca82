"""Functions for Python workers to run, in a module they import by name: a
function from a test module or ``__main__`` would not be importable there.
"""

from __future__ import annotations

import pandas as pd

from concept_multi_db_query_engine_spark import pyworker


def lazy_invalidation(batches):
    """``mapInPandas`` (schema ``lazy_zip_invalidation boolean``): one row
    per task saying whether its worker carries the daemon's patch."""
    for _ in batches:
        pass
    yield pd.DataFrame(
        {"lazy_zip_invalidation": [pyworker.lazy_invalidation_installed()]})
