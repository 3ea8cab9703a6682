"""Vectorized (Arrow-batched) scalar functions wrapping the text kernels.

These are the slow-path escape hatches (pandas_udf, never row-at-a-time
Python) for the kernels whose fixpoint/regex semantics exceed what
`regexp_replace` chains can express faithfully (SURVEY.md §2.8).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import kernels


@F.pandas_udf(T.StringType())
def clean_text_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda x: kernels.clean_text(x or ""))


@F.pandas_udf(T.StringType())
def strip_boilerplate_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda x: kernels.strip_boilerplate_html(x or ""))


@F.pandas_udf(T.StringType())
def recognize_udf(refs: pd.Series) -> pd.Series:
    """Batched recognize: ONE recognize_batch call per Arrow batch."""
    texts = kernels.recognize_batch(list(refs.fillna("")))
    return pd.Series(texts, index=refs.index)
