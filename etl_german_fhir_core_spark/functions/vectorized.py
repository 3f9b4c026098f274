"""Arrow-batched pandas UDFs — the explicitly-vectorized alternative surface.

The engine prefers native ``pyspark.sql.functions`` expressions (JVM-side,
whole-stage codegen) for everything in functions/text.py; these pandas UDFs exist
for the operator class where per-row logic genuinely needs Python (external
tokenizers, model scoring) and demonstrate the required batch shape: Arrow transfer,
pandas in/out, never row-at-a-time (input_hint: "vectorized pandas/Arrow UDFs — no
per-row Python"; reference analog: the 12 per-record mappers, SURVEY §2.3/§2.9).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TOKEN_RE = re.compile(r"[\w]+|[^\w\s]")


@F.pandas_udf(T.IntegerType())
def token_count_pd(texts: pd.Series) -> pd.Series:
    """BPE-ish token count, pandas-vectorized (same semantics as
    functions.text.token_count; used where a real tokenizer library would slot in)."""
    return texts.fillna("").str.findall(_TOKEN_RE).str.len().astype("int32")
