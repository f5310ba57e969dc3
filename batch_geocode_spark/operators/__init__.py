from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame


def collect_capped(df: DataFrame, cap: int, what: str, remedy: str) -> pd.DataFrame:
    """``df`` on the driver as pandas, for tables that are small only by
    an operator's contract. The size probe is the collect itself:
    ``limit(cap + 1)`` returns the whole table or proves it exceeds
    ``cap``, which raises a ``ValueError`` naming the cap and ``remedy``
    instead of running the driver out of memory."""
    head = df.limit(cap + 1).toPandas()
    if len(head) > cap:
        raise ValueError(
            f"{what} has more than {cap:,} rows, the cap on collecting it "
            f"to the driver; {remedy}"
        )
    return head
