from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

LOCAL_ROWS = 20_000  # local relations up to this size collect faster than a job


def collect_capped(df: DataFrame, cap: int, what: str, remedy: str) -> pd.DataFrame:
    """``df`` on the driver as pandas, for tables that are small only by
    an operator's contract. The size probe is the collect itself:
    ``limit(cap + 1)`` returns the whole table or proves it exceeds
    ``cap``, which raises a ``ValueError`` naming the cap and ``remedy``
    instead of running the driver out of memory. A frame whose optimized
    plan is a local relation of at most ``LOCAL_ROWS`` rows is served
    without the Spark job of Arrow's collect, as ``toPandas`` returns it."""
    head = df.limit(cap + 1)
    plan = head._jdf.queryExecution().optimizedPlan()
    local = plan.getClass().getSimpleName() == "LocalRelation" and plan.data().size() <= LOCAL_ROWS
    head = _local_to_pandas(head) if local else head.toPandas()
    if len(head) > cap:
        raise ValueError(
            f"{what} has more than {cap:,} rows, the cap on collecting it "
            f"to the driver; {remedy}"
        )
    return head


def _local_to_pandas(df: DataFrame) -> pd.DataFrame:
    """``df.toPandas()`` of a local relation, whose ``collect()`` runs no
    job: the rows take pyspark's Arrow-path conversions to pandas."""
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import _create_converter_to_pandas, to_arrow_schema

    conf, rows = df.sparkSession._jconf, df.collect()
    large = conf.arrowUseLargeVarTypes()
    table = (
        LocalDataToArrowConversion.convert(rows, df.schema, large)
        if rows
        else to_arrow_schema(df.schema, prefers_large_types=large).empty_table()
    )
    pdf = table.to_pandas(date_as_object=True, coerce_temporal_nanoseconds=True)
    tz, mode = conf.sessionLocalTimeZone(), conf.pandasStructHandlingMode()
    legacy = mode == "legacy"
    convert = [
        _create_converter_to_pandas(
            f.dataType, f.nullable, timezone=tz, struct_in_pandas="dict" if legacy else mode,
            error_on_duplicated_field_names=legacy,
        )
        for f in df.schema.fields
    ]
    return pd.concat([c(s) for c, (_, s) in zip(convert, pdf.items())], axis="columns")
