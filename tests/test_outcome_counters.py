"""Tx_Curr_OutComeList's counters on a hand-built warehouse.

The seeded corpora leave several of the report's rules untested: an
empty block (its counters are NULL, only seed 1234 has one), ``AgeOut``
above 0, a transferred-in flag that must not count, a same-day tie, a
client without a ``mamba_dim_client`` row and a status outside the
seven codes. Each client below exercises one of them; the expected row
follows the reference's rules (Tx_Curr_OutComeList.sql:100-259).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql.types import DateType, LongType, StringType, StructField, StructType

from data_export_tool_spark.mamba.linelists import tx_curr_outcome

d = dt.date
START, END = d(2024, 1, 1), d(2024, 3, 31)
ADULT = d(1980, 1, 1)

FOLLOW_UP = StructType(
    [
        StructField("encounter_id", LongType()),
        StructField("client_id", LongType()),
        StructField("follow_up_date_followup_", DateType()),
        StructField("follow_up_status", StringType()),
        StructField("art_antiretroviral_start_date", DateType()),
        StructField("treatment_end_date", DateType()),
        StructField("transferred_in_check_this_for_all_t", StringType()),
    ]
)
DIM_CLIENT = StructType(
    [StructField("client_id", LongType()), StructField("date_of_birth", DateType())]
)

ART = d(2018, 1, 1)
#: (encounter_id, client_id, visit date, status, ART start, dose end, TI flag)
VISITS = [
    # 1: lost before the window, back on treatment → Traced_Back
    (10, 1, d(2023, 10, 1), "Loss to follow-up (LTFU)", ART, d(2023, 11, 1), None),
    (11, 1, d(2024, 2, 1), "Alive", ART, d(2024, 6, 1), None),
    # 2: → Restarts
    (20, 2, d(2024, 2, 1), "Restart medication", ART, d(2024, 6, 1), None),
    # 3: started ART inside the window → New
    (30, 3, d(2024, 1, 15), "Alive", d(2024, 1, 15), d(2024, 5, 1), None),
    # 4: TI flag on a visit with no status (not eligible), in the window → TI
    (40, 4, d(2024, 1, 10), None, ART, None, "Yes"),
    (41, 4, d(2024, 2, 1), "Alive", ART, d(2024, 6, 1), None),
    # 5: TI flag before the window does not count → Traced_Back
    (50, 5, d(2023, 6, 1), "Stop all", ART, d(2023, 7, 1), "Yes"),
    (51, 5, d(2024, 2, 1), "Alive", ART, d(2024, 6, 1), None),
    # 6: on treatment before; same-day tie, the higher encounter is Dead → Deads
    (60, 6, d(2023, 12, 1), "Alive", ART, d(2024, 6, 1), None),
    (62, 6, d(2024, 2, 10), "Dead", ART, d(2024, 6, 1), None),
    (61, 6, d(2024, 2, 10), "Alive", ART, d(2024, 6, 1), None),
    # 7: on treatment before, now a status outside the seven codes:
    # in the deducted block, in none of its classes
    (70, 7, d(2023, 12, 1), "Alive", ART, d(2024, 6, 1), None),
    (71, 7, d(2024, 2, 10), "Transferred in", ART, d(2024, 6, 1), None),
    # 8: → TOs
    (80, 8, d(2023, 12, 1), "Alive", ART, d(2024, 6, 1), None),
    (81, 8, d(2024, 2, 10), "Transferred out", ART, d(2024, 6, 1), None),
    # 9: dose ran out inside the window, no later visit → Not_Updated
    (90, 9, d(2023, 12, 1), "Alive", ART, d(2024, 1, 15), None),
    # 10: no mamba_dim_client row: counted nowhere
    (100, 10, d(2024, 2, 1), "Restart medication", ART, d(2024, 6, 1), None),
    # 11: on treatment throughout, turns 15 inside the window → AgeOut
    (110, 11, d(2023, 12, 1), "Alive", ART, d(2024, 6, 1), None),
    # 12: a child new to the cohort → Traced_Back and Traced_BackPedi
    (120, 12, d(2024, 2, 1), "Alive", ART, d(2024, 6, 1), None),
]
CLIENTS = [(c, ADULT) for c in range(1, 10)] + [
    (11, d(2009, 2, 15)),
    (12, d(2015, 1, 1)),
]


def test_outcome_counters_on_hand_built_warehouse(spark):
    follow_up = spark.createDataFrame(VISITS, FOLLOW_UP)
    tables = {"mamba_dim_client": spark.createDataFrame(CLIENTS, DIM_CLIENT)}
    rows = tx_curr_outcome(tables, START, END, follow_up=follow_up).collect()
    assert [r.asDict() for r in rows] == [
        {
            "Traced_Back": 3,
            "Restarts": 1,
            "TI": 1,
            "New": 1,
            "TOs": 1,
            "Losts": 0,
            "Drops": 0,
            "Deads": 1,
            "Stops": 0,
            "Not_Updated": 1,
            # the child block holds one client; its other classes are 0
            "Traced_BackPedi": 1,
            "RestartsPedi": 0,
            "TIPedi": 0,
            "NewPedi": 0,
            # no child left the cohort: an empty block is NULL, not 0
            "TOsPedi": None,
            "LostsPedi": None,
            "DropsPedi": None,
            "DeadsPedi": None,
            "StopsPedi": None,
            "Not_UpdatedPedi": None,
            "AgeOut": 1,
        }
    ]
