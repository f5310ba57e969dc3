"""ISO 3166-1 alpha-2 domain validation (reference analog:
geocode/utilities.py:85-118 validates inputs against the standard
country-code set and reports offenders).

The code list is the public ISO 3166-1 alpha-2 standard.
Implementation is the distinct + broadcast anti-join plan from
SURVEY.md §2.2 P3 — at 10^12 rows the distinct is the only shuffle and
its cardinality is ≤ a few hundred.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

VALID_ISO2 = """
AD AE AF AG AI AL AM AO AQ AR AS AT AU AW AX AZ BA BB BD BE BF BG BH BI
BJ BL BM BN BO BQ BR BS BT BV BW BY BZ CA CC CD CF CG CH CI CK CL CM CN
CO CR CU CV CW CX CY CZ DE DJ DK DM DO DZ EC EE EG EH ER ES ET FI FJ FK
FM FO FR GA GB GD GE GF GG GH GI GL GM GN GP GQ GR GS GT GU GW GY HK HM
HN HR HT HU ID IE IL IM IN IO IQ IR IS IT JE JM JO JP KE KG KH KI KM KN
KP KR KW KY KZ LA LB LC LI LK LR LS LT LU LV LY MA MC MD ME MF MG MH MK
ML MM MN MO MP MQ MR MS MT MU MV MW MX MY MZ NA NC NE NF NG NI NL NO NP
NR NU NZ OM PA PE PF PG PH PK PL PM PN PR PS PT PW PY QA RE RO RS RU RW
SA SB SC SD SE SG SH SI SJ SK SL SM SN SO SR SS ST SV SX SY SZ TC TD TF
TG TH TJ TK TL TM TN TO TR TT TV TW TZ UA UG UM US UY UZ VA VC VE VG VI
VN VU WF WS YE YT ZA ZM ZW
""".split()


def invalid_iso2(df: DataFrame) -> DataFrame:
    """Distinct offending ``iso2`` values (uppercased) not in the ISO2 domain —
    distinct + broadcast anti-join, mirroring the reference's report of
    offenders (geocode/utilities.py:107-118)."""
    spark = df.sparkSession
    valid = spark.createDataFrame([(c,) for c in VALID_ISO2], "iso2_valid string")
    return (
        df.select(F.upper(F.col("iso2")).alias("iso2_value"))
        .where(F.col("iso2_value").isNotNull())
        .distinct()
        .join(
            F.broadcast(valid),
            F.col("iso2_value") == F.col("iso2_valid"),
            "left_anti",
        )
    )
