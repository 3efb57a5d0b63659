"""Month names as SQL.

The reference maps month numbers to English names with a CASE
expression (pickup_count_vs_average_per_base.sql:7-14). The uber
models and their DuckDB oracles share this CASE text, which is
locale-independent, unlike date_format 'MMMM'.
"""

from __future__ import annotations

MONTH_NAMES = (
    "January",
    "February",
    "March",
    "April",
    "May",
    "June",
    "July",
    "August",
    "September",
    "October",
    "November",
    "December",
)

# month name of the 1-based month number in {col}; valid in Spark SQL and DuckDB
MONTH_NAME_CASE_SQL = "CASE " + " ".join(
    f"WHEN {{col}} = {i + 1} THEN '{name}'" for i, name in enumerate(MONTH_NAMES)
) + " END"

