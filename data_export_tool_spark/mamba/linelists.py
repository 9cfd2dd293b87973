"""Reference line-list reports as Spark DataFrame pipelines.

Each function reproduces one query from
/root/reference/sql_queries/*.sql — semantics, column names, and
documented quirks — re-expressed Spark-first (window dedup operators,
pure-column Ethiopian dates). Join strategies carry no hints: Catalyst
and AQE choose them under the session's broadcast threshold, so a
10M-patient dim_client becomes a shuffle join instead of OOMing the
build side. Citations point at the reference lines being mirrored; no
SQL text is copied.

A builder keeps the row its window picks. The reference selects a
client's latest visit with ``ROW_NUMBER() ... WHERE row_num = 1`` in a
narrow CTE and joins FollowUp back on ``encounter_id`` to fetch the rest
of the row (Tx_Curr_LineList.sql:153-154 and siblings). A DataFrame
window carries every column of its input, so the builders window over
the FollowUp frame they need and read the chosen row directly. This is
exact: ``encounter_id`` is the wide view's key (the base table's
primary key, and the shards join 1:1), so the re-join would return
exactly the row the window chose. Catalyst prunes the window's input to
the columns read downstream.

Three rules decide between a window and an aggregate:

- A report's base row (the latest visit, a tx_curr cohort, the latest
  VL result whose columns are read on) is a window over the FollowUp
  frame, and the builder carries the chosen row.
- A lookup that only lends a value to a client's row (the reference's
  "latest non-null X per client" CTE, LEFT JOINed on client_id) is an
  aggregate column, ``latest_value`` or the ``max``/``min`` of a masked
  date. All lookups over one FollowUp frame are one
  ``groupBy(client).agg(...)``, joined once. ``latest_value``'s
  docstring says why this picks the row the window would.
- A report of counters is one client-grain aggregate: each counter
  classifies one client, so the cohorts it compares are columns of one
  ``groupBy(client)`` row and the counters are masked counts over those
  rows, not anti-joins and cross-joins of per-cohort pivots. Lookups
  over a frame joined to the base row (FollowUp ⋈ a chosen VL result)
  are aggregates too, one per joined frame.

``LINELISTS`` at the end of the module is the one report table: report
name → builder, in the reference's config order. The driver-gate
catalog (``queries.mamba_q``), the scaled bench entries
(``queries.bench_mamba``) and the tests all read it.

Dialect/collation policy (SURVEY.md §4.7): string comparisons are
**case-sensitive** (Spark/ANSI semantics). MySQL's default collation
is case-insensitive, so rows carrying case-variant codes
('Restart Medication', 'Female') fall out of cohorts here — a
documented, test-pinned deviation; the DuckDB oracle agrees with this
engine.

MySQL truthiness quirks are reproduced bug-compatibly where the
reference relies on them (constant-string CASE conditions are
never-true — SURVEY.md §4.1/§4.2); the oracle shim rewrites them to
FALSE so both sides agree on the reference's *actual* behavior.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_export_tool_spark.functions.datetime_ext import (
    complete_months_between,
    complete_weeks_between,
    complete_years_between,
    period_diff_months,
)
from data_export_tool_spark.functions.ethiopian import eth_date_str
from data_export_tool_spark.mamba.schemas import HEI_IMMUNIZATION_FLAGS
from data_export_tool_spark.operators.window_dedup import (
    latest_value,
    latest_per_key,
    ranked,
)


def _eth_pair(col, et_name: str, gc_name: str):
    """The reference's twin-column pattern: Ethiopian 'D/M/Y' string +
    Gregorian date (Tx_Curr_LineList.sql:94-95)."""
    return [eth_date_str(col).alias(et_name), col.alias(gc_name)]


def tx_curr_linelist(
    tables: Mapping[str, DataFrame],
    report_start: dt.date,
    report_end: dt.date,
    follow_up: DataFrame,
) -> DataFrame:
    """Tx_Curr_LineList — one row per current-on-ART patient
    (Tx_Curr_LineList.sql:1-157).

    Pipeline: wide FollowUp (+ latest intake_b per client,
    :48-56) → tx_curr cohort = latest eligible visit per patient
    (W1 dedup, :58-68), the whole visit row, filtered to on-treatment
    statuses (:80-85) → dim_client (:156) → the 40-column projection
    (:88-152).
    """
    end = F.lit(report_end.isoformat()).cast("date")

    # FollowUp CTE projection (:1-28) — rename to the reference's aliases
    fu = follow_up.select(
        F.col("encounter_id"),
        F.col("client_id").alias("PatientId"),
        F.col("follow_up_status"),
        F.col("follow_up_date_followup_").alias("follow_up_date"),
        F.col("art_antiretroviral_start_date").alias("art_start_date"),
        F.col("assessment_date"),
        F.col("treatment_end_date"),
        F.col("antiretroviral_art_dispensed_dose_i").alias("ARTDoseDays"),
        F.col("weight_text_").alias("Weight"),
        F.col("screening_test_result_tuberculosis").alias("TB_SreeningStatus"),
        F.col("date_of_last_menstrual_period_lmp_").alias("LMP_Date"),
        F.col("anitiretroviral_adherence_level").alias("AdherenceLevel"),
        F.col("next_visit_date"),
        F.col("regimen"),
        F.col("currently_breastfeeding_child").alias("breast_feeding_status"),
        F.col("pregnancy_status"),
        F.col("diagnosis_date").alias("ActiveTBDiagnoseddate"),
        F.col("nutritional_status_of_adult"),
        F.col("nutritional_supplements_provided"),
        F.col("stages_of_disclosure"),
        F.col("date_started_on_tuberculosis_prophy"),
        F.col("method_of_family_planning"),
        F.col("patient_diagnosed_with_active_tuber").alias("ActiveTBDiagnosed"),
        F.col("dsd_category"),
        F.col("nutritional_screening_result"),
        F.col("eats_nutritious_foods"),
    )
    # latest intake_b per client (:48-56): ROW_NUMBER by encounter_id DESC
    intake = latest_per_key(
        tables["mamba_flat_encounter_intake_b"].select(
            "client_id", "encounter_id", "inh_start_date", "inh_date_completed"
        ),
        keys=["client_id"],
        order_by=["encounter_id"],
    ).select(
        F.col("client_id").alias("PatientId"), "inh_start_date", "inh_date_completed"
    )
    fu = fu.join(intake, on="PatientId", how="left")

    # tx_curr_all (:58-68): latest eligible visit per patient
    eligible = fu.filter(
        F.col("follow_up_status").isNotNull()
        & F.col("art_start_date").isNotNull()
        & (F.col("follow_up_date") <= end)
    )
    tx_curr = latest_per_key(
        eligible, ["PatientId"], ["follow_up_date"], tiebreak="encounter_id"
    ).filter(
        # on-treatment gate (:83-85)
        (F.col("treatment_end_date") >= end)
        & F.col("follow_up_status").isin("Alive", "Restart medication")
        & (F.datediff(end, F.col("art_start_date")) >= 0)
    )

    # tx_curr ⋈ dim_client (:156)
    client = tables["mamba_dim_client"]
    joined = tx_curr.join(client, F.col("PatientId") == client["client_id"], "left")

    age = complete_years_between(F.col("date_of_birth"), end)
    fp = F.col("method_of_family_planning")
    sex_for_nutrition = F.when(
        F.col("nutritional_status_of_adult").isNotNull(),
        # inner CASE (:130-141): the 15-49 branch tests the constant
        # 'FEMALE' — never true under MySQL truthiness (SURVEY §4.1) —
        # so every arm collapses to client.Sex. Reproduced faithfully.
        F.col("sex"),
    )

    return joined.select(
        F.when(F.col("sex") == "FEMALE", "F")
        .when(F.col("sex") == "MALE", "M")
        .alias("Sex"),
        F.col("Weight"),
        age.alias("Age"),
        eth_date_str(F.col("follow_up_date")).alias("FollowUpDate"),
        F.col("follow_up_date").alias("FollowUpDate_GC"),
        eth_date_str(F.col("next_visit_date")).alias("Next_visit_Date"),
        F.col("next_visit_date").alias("Next_visit_Date_GC"),
        F.substring(F.col("regimen"), 1, 2).alias("ARVRegimen"),
        F.substring(F.col("regimen"), 1, 1).alias("RegimensLine"),
        F.col("ARTDoseDays"),
        F.col("follow_up_status").alias("FollowupStatus"),
        eth_date_str(F.col("treatment_end_date")).alias("ARTDoseEndDate"),
        F.col("treatment_end_date").alias("ARTDoseEndDate_DC"),
        F.col("AdherenceLevel").alias("AdheranceLevel"),
        eth_date_str(F.col("art_start_date")).alias("ARTStartDate"),
        F.col("art_start_date").alias("ARTStartDate_GC"),
        eth_date_str(F.col("inh_start_date")).alias("INH_Start_Date"),
        F.col("inh_start_date").alias("INH_Start_Date_GC"),
        eth_date_str(F.col("inh_date_completed")).alias("INH_Completed_Date"),
        F.col("inh_date_completed").alias("INH_Completed_Date_GC"),
        F.when(
            fp.isin(
                "Intrauterine device",
                "Vasectomy",
                "Tubal ligation procedure",
                "Implantable contraceptive (unspecified type)",
                "None",
            ),
            "LongTermFP",
        )
        .when(
            fp.isin(
                "Diaphragm",
                "Oral contraception",
                "Injectable contraceptives",
                "Condoms",
            ),
            "ShortTermFP",
        )
        .alias("FP_Status"),
        F.when(F.col("TB_SreeningStatus") == "Positive", "TB_Positive")
        .otherwise(F.col("TB_SreeningStatus"))
        .alias("TB_SreeningStatus"),
        F.col("ActiveTBDiagnosed"),
        F.col("nutritional_screening_result").alias("NutritionalScrenningStatus"),
        sex_for_nutrition.alias("SexForNutrition"),
        F.col("eats_nutritious_foods").alias("TherapeuticFoodProvided"),
        F.col("patient_uuid").alias("PatientGUID"),
        F.col("pregnancy_status").alias("IsPregnant"),
        F.col("breast_feeding_status").alias("BreastFeeding"),
        eth_date_str(F.col("LMP_Date")).alias("LMP_Date"),
        F.col("LMP_Date").alias("LMP_Date_GC"),
        period_diff_months(end, F.col("art_start_date")).alias("MonthsOnART"),
        F.col("dsd_category").alias("DSD_Category"),
        F.col("stages_of_disclosure").alias("ChildDisclosueStatus"),
    )


def tx_curr_outcome(
    tables: Mapping[str, DataFrame],
    report_start: dt.date,
    report_end: dt.date,
    follow_up: DataFrame,
) -> DataFrame:
    """Tx_Curr_OutComeList — single-row cohort-transition counters
    (Tx_Curr_OutComeList.sql:1-259).

    The reference builds two cohorts, each client's latest eligible
    visit at the report end and at start - 1 (:32-49/:68-85), anti-joins
    them both ways into "added" (:100-186) and "deducted" (:187-248)
    blocks, pivots each block and cross-joins the five one-row results.
    Every counter classifies one client, so here it is one client-grain
    aggregate: one ``groupBy(client_id)`` gives a client's two cohort
    visits and TI flag, that frame joins ``mamba_dim_client`` once (one
    row per client, so the inner join drops the clients the reference's
    join of FollowUp to it drops), and one global ``agg`` counts the 21
    masked classes. A block's counters
    are NULL when the block is empty, as the reference's SUM over no
    rows is; within a non-empty block an empty class counts 0.
    """
    start = F.lit(report_start.isoformat()).cast("date")
    end = F.lit(report_end.isoformat()).cast("date")
    prev_end = F.date_add(start, -1)

    date = F.col("follow_up_date_followup_")
    art_start = F.col("art_antiretroviral_start_date")

    def cohort_visit(cutoff):
        """latest eligible visit per client at a cutoff (:32-49/:68-85)"""
        return latest_value(
            F.struct(
                F.col("follow_up_status").alias("status"),
                art_start.alias("art_start"),
                F.col("treatment_end_date").alias("dose_end"),
            ),
            [date],
            where=F.col("follow_up_status").isNotNull()
            & art_start.isNotNull()
            & (date <= cutoff),
            tiebreak="encounter_id",
        )

    clients = (
        follow_up.groupBy("client_id")
        .agg(
            cohort_visit(end).alias("cur"),
            cohort_visit(prev_end).alias("prev"),
            # U2 reconstruction (pinned; see reports._ti_status_patches):
            # transferred-in flag on any follow-up inside [start-1, end]
            F.max(
                F.coalesce(
                    (F.col("transferred_in_check_this_for_all_t") == "Yes")
                    & date.between(prev_end, end),
                    F.lit(False),
                )
            ).alias("is_ti"),
        )
        .join(
            tables["mamba_dim_client"].select("client_id", "date_of_birth"),
            "client_id",
            "inner",
        )
    )

    def on_treatment(visit: str, cutoff):
        # the cohort filter (:83-85); a client without a cohort visit is
        # not on treatment
        return F.coalesce(
            F.col(f"{visit}.status").isin("Alive", "Restart medication")
            & (F.col(f"{visit}.art_start") <= cutoff)
            & (F.col(f"{visit}.dose_end") >= cutoff),
            F.lit(False),
        )

    latest, previous = on_treatment("cur", end), on_treatment("prev", prev_end)
    # in latest but not previous, and vice versa: the anti-joins
    added = latest & ~previous
    # a deducted client's current latest visit (latest_follow_up_2) must
    # have started ART by the report end
    deducted = (
        previous & ~latest & F.coalesce(F.col("cur.art_start") <= end, F.lit(False))
    )
    pedi = F.coalesce(
        complete_years_between(F.col("date_of_birth"), end) < 15, F.lit(False)
    )

    status, is_ti = F.col("cur.status"), F.col("is_ti")
    new = F.col("cur.art_start").between(start, end)
    added_classes = {
        "Traced_Back": ~is_ti & ~new & (status == "Alive"),
        "Restarts": ~is_ti & ~new & (status == "Restart medication"),
        "TI": is_ti & ~new & (status == "Alive"),
        "New": ~is_ti & new & (status == "Alive"),
    }
    deducted_classes = {
        "TOs": status == "Transferred out",
        "Losts": status == "Loss to follow-up (LTFU)",
        "Drops": status == "Ran away",
        "Deads": status == "Dead",
        "Stops": status == "Stop all",
        "Not_Updated": status == "Alive",
    }

    def counters(block, classes, suffix: str):
        size = F.count(F.when(block, 1))
        return [
            F.when(size > 0, F.count(F.when(block & cls, 1))).alias(name + suffix)
            for name, cls in classes.items()
        ]

    return clients.agg(
        *counters(added, added_classes, ""),
        *counters(deducted, deducted_classes, ""),
        *counters(added & pedi, added_classes, "Pedi"),
        *counters(deducted & pedi, deducted_classes, "Pedi"),
        F.count(
            F.when(
                latest
                & previous
                & F.add_months(F.col("date_of_birth"), 15 * 12).between(start, end),
                1,
            )
        ).alias("AgeOut"),
    )


def tx_curr_vl_received_linelist(
    tables: Mapping[str, DataFrame],
    report_start: dt.date,
    report_end: dt.date,
    follow_up: DataFrame,
) -> DataFrame:
    """Tx_Curr_VLTestReceived_LineList — one row per patient with a VL
    result in the last 365 days (Tx_Curr_VLTestReceived_LineList.sql).

    Notable shapes: two W1 dedup stacks (latest visit, latest VL
    result), the 11-way routine-indication COALESCE chain (F3), loose
    numeric text (`hiv_viral_load`) compared and cast on use — done
    with try_cast so behavior is lenient (MySQL-like) regardless of
    the session's ANSI mode. The reference's no-op
    ``GROUP BY client_id, encounter_id`` (A5) is dropped.
    """
    end = F.lit(report_end.isoformat()).cast("date")

    fu = follow_up.select(
        "client_id",
        "encounter_id",
        F.col("date_viral_load_results_received").alias("viral_load_perform_date"),
        "follow_up_status",
        F.col("follow_up_date_followup_").alias("follow_up_date"),
        F.col("art_antiretroviral_start_date").alias("art_start_date"),
        "viral_load_test_status",
        F.col("hiv_viral_load").alias("viral_load_count"),
        F.coalesce(
            "at_3436_weeks_of_gestation",
            "viral_load_after_eac_confirmatory_viral_load_where_initial_v",
            "viral_load_after_eac_repeat_viral_load_where_initial_viral_l",
            "every_six_months_until_mtct_ends",
            "six_months_after_the_first_viral_load_test_at_postnatal_peri",
            "three_months_after_delivery",
            "at_the_first_antenatal_care_visit",
            "annual_viral_load_test",
            "second_viral_load_test_at_12_months_post_art",
            "first_viral_load_test_at_6_months_or_longer_post_art",
            "first_viral_load_test_at_3_months_or_longer_post_art",
        ).alias("routine_viral_load_test_indication"),
        F.coalesce(
            "repeat_or_confirmatory_vl_initial_viral_load_greater_than_10",
            "suspected_antiretroviral_failure",
        ).alias("targeted_viral_load_test_indication"),
        "pregnancy_status",
        F.col("currently_breastfeeding_child").alias("breastfeeding_status"),
        F.col("antiretroviral_art_dispensed_dose_i").alias("arv_dispensed_dose"),
        "regimen",
        "next_visit_date",
        "treatment_end_date",
        F.col("date_of_event").alias("date_hiv_confirmed"),
        F.col("weight_text_").alias("weight"),
    )

    eligible = fu.filter(
        F.col("follow_up_status").isNotNull() & F.col("art_start_date").isNotNull()
    )
    vlperf = (
        ranked(
            eligible.filter(F.col("viral_load_perform_date") <= end),
            keys=["client_id"],
            order_by=["viral_load_perform_date"],
            tiebreak="encounter_id",
        )
        .filter(F.col("row_num") == 1)
        .select(
            F.col("client_id").alias("vp_client_id"),
            F.when(
                F.col("viral_load_count").try_cast("double") > 0,
                F.col("viral_load_count").try_cast("decimal(12,0)"),
            ).alias("vp_viral_load_count"),
            F.col("viral_load_perform_date").alias("vp_viral_load_perform_date"),
            F.col("viral_load_perform_date").alias("vp_viral_load_ref_date"),
            F.col("viral_load_test_status").alias("vp_viral_load_test_status"),
            F.col("routine_viral_load_test_indication").alias("vp_routine_ind"),
            F.col("targeted_viral_load_test_indication").alias("vp_targeted_ind"),
        )
    )
    latest = latest_per_key(
        eligible.filter(F.col("follow_up_date") <= end),
        keys=["client_id"],
        order_by=["follow_up_date"],
        tiebreak="encounter_id",
    )

    client = tables["mamba_dim_client"]
    out = (
        latest.join(vlperf, latest["client_id"] == vlperf["vp_client_id"], "left")
        .join(client, "client_id", "left")
    )
    return (
        out.filter(
            F.col("vp_viral_load_perform_date").isNotNull()
            & (F.col("vp_viral_load_perform_date") >= F.date_add(end, -365))
            & (F.col("vp_viral_load_perform_date") <= end)
        )
        .select(
            F.when(F.col("sex") == "FEMALE", "F")
            .when(F.col("sex") == "MALE", "M")
            .alias("Sex"),
            F.col("weight").alias("Weight"),
            complete_years_between(F.col("date_of_birth"), end).alias("Age"),
            "date_hiv_confirmed",
            F.col("art_start_date").alias("art_start_date"),
            F.col("follow_up_date").alias("FollowUpDate"),
            F.col("pregnancy_status").alias("IsPregnant"),
            F.col("breastfeeding_status").alias("Breastfeeding"),
            F.col("regimen").alias("ARVDispendsedDose"),
            F.substring(F.col("regimen"), 1, 1).alias("ARVRegimensLine"),
            F.col("arv_dispensed_dose").alias("ARTDoseDays"),
            "next_visit_date",
            "follow_up_status",
            F.col("treatment_end_date").alias("art_dose_End"),
            F.col("vp_viral_load_perform_date").alias("viral_load_perform_date"),
            F.col("vp_viral_load_test_status").alias("viral_load_status"),
            F.col("vp_viral_load_count").alias("viral_load_count"),
            F.col("vp_viral_load_ref_date").alias("viral_load_ref_date"),
            F.concat(
                F.coalesce(F.col("vp_routine_ind"), F.lit("")),
                F.lit(" "),
                F.coalesce(F.col("vp_targeted_ind"), F.lit("")),
            ).alias("ReasonForVLTest"),
            F.when(F.col("pregnancy_status") == "Yes", "Yes")
            .when(F.col("breastfeeding_status") == "Yes", "Yes")
            .otherwise("No")
            .alias("PMTCT_ART"),
            F.col("patient_uuid").alias("PatientGUID"),
        )
    )


def tx_curr_cca_linelist(
    tables: Mapping[str, DataFrame],
    report_start: dt.date,
    report_end: dt.date,
    follow_up: DataFrame,
) -> DataFrame:
    """Tx_Curr_CCA_LineList — cervical-cancer screening line list
    (Tx_Curr_CCA_LineList.sql).

    Note the final ``client.Sex = 'Female'`` filter (:175): the data
    carries 'FEMALE'; MySQL's case-insensitive collation matches both,
    this engine's ANSI comparison matches only the literal-cased rows —
    the documented collation policy (SURVEY.md §4.7), identical on the
    oracle. The self-conjunct duplicate null-guard (:48-49) folds away.
    """
    end = F.lit(report_end.isoformat()).cast("date")

    screen_date = (
        F.when(F.col("colposcopy_exam_date").isNotNull(), F.col("colposcopy_exam_date"))
        .when(
            F.col("date_cytology_result_received").isNotNull(),
            F.col("date_cytology_result_received"),
        )
        .when(
            F.col("date_visual_inspection_of_the_cervi").isNotNull(),
            F.col("date_visual_inspection_of_the_cervi"),
        )
        .when(
            F.col("hpv_dna_result_received_date").isNotNull(),
            F.col("hpv_dna_result_received_date"),
        )
        .when(
            F.col("follow_up_date_followup_").isNotNull()
            & (
                F.col("cervical_cancer_screening_status")
                == "Cervical cancer screening performed"
            ),
            F.col("follow_up_date_followup_"),
        )
    )
    fu = follow_up.select(
        "encounter_id",
        "client_id",
        F.col("follow_up_date_followup_").alias("follow_up_date"),
        "follow_up_status",
        F.col("treatment_end_date").alias("art_end_date"),
        F.col("weight_text_").alias("weight"),
        F.col("next_follow_up_screening_date").alias("CCS_Next_Date"),
        F.col("cervical_cancer_screening_status").alias("screening_status"),
        F.col("hpv_dna_screening_result").alias("CCS_HPV_Result"),
        F.col("via_screening_result").alias("CCS_VIA_Result"),
        F.col("treatment_start_date").alias("CCS_Treat_Received_Date"),
        F.col("purpose_for_visit_cervical_screening").alias("screening_type"),
        F.col("cervical_cancer_screening_method_strategy").alias("screening_method"),
        F.col("treatment_of_precancerous_lesions_of_the_cervix").alias(
            "CCS_Precancerous_Treat"
        ),
        F.col("confirmed_cervical_cancer_cases_bas").alias("CCS_Suspicious_Treat"),
        F.col("reason_for_referral_cacx").alias("reason_for_eligibility_transfer_in"),
        F.col("art_antiretroviral_start_date").alias("art_start_date"),
        "next_visit_date",
        F.col("antiretroviral_art_dispensed_dose_i").alias("dose_days"),
        F.col("pre_test_counselling_for_cervical_c").alias("CCaCounsellingGiven"),
        F.col("ready_for_cervical_cancer_screening").alias("Accepted"),
        F.col("date_of_event").alias("date_hiv_confirmed"),
        F.col("transferred_in_check_this_for_all_t").alias("transfer_in"),
        "currently_breastfeeding_child",
        "pregnancy_status",
        screen_date.alias("CSS_Screen_Done_Date_Calculated"),
    )

    yn = lambda cond: F.when(cond, "Yes").otherwise("No")  # noqa: E731
    cca = (
        ranked(
            fu.filter(
                (F.col("CCaCounsellingGiven") == "Yes")
                & (F.col("CSS_Screen_Done_Date_Calculated") <= end)
            ),
            keys=["client_id"],
            order_by=["follow_up_date"],
            tiebreak="encounter_id",
        )
        .filter(F.col("row_num") == 1)
        .select(
            # cca_ prefix: the cca and latest frames share fu's lineage
            # (a self-join); disjoint names avoid ambiguous attributes
            F.col("client_id").alias("cca_client_id"),
            yn(F.col("CCaCounsellingGiven") == "Yes").alias("cca_OfferedYes"),
            yn(F.col("CCaCounsellingGiven") == "No").alias("cca_OfferedNo"),
            yn(F.col("Accepted") == "Yes").alias("cca_AcceptedYes"),
            F.lit("No").alias("cca_AcceptedNo"),  # reference: both arms 'No' (:85)
            yn(
                F.col("screening_status") == "Cervical cancer screening performed"
            ).alias("cca_ScreenDoneYes"),
            F.lit("No").alias("cca_ScreenDoneNo"),  # both arms 'No' (:89-91)
            F.col("CSS_Screen_Done_Date_Calculated").alias("cca_ScreenDone_Date"),
            F.col("screening_type").alias("cca_Screen_Type"),
            F.col("screening_method").alias("cca_Screen_Method"),
            F.col("CCS_HPV_Result").alias("cca_HPV_Result"),
            F.col("CCS_VIA_Result").alias("cca_VIA_Result"),
            F.col("CCS_Precancerous_Treat").alias("cca_Precancerous_Treat"),
            F.col("CCS_Suspicious_Treat").alias("cca_Suspicious_Treat"),
            F.col("CCS_Treat_Received_Date").alias("cca_Treat_Received_Date"),
            F.col("CCS_Next_Date").alias("cca_Next_Date"),
        )
    )

    lfa = latest_per_key(
        fu.filter(
            (F.col("follow_up_date") <= end) & F.col("follow_up_status").isNotNull()
        ),
        keys=["client_id"],
        order_by=["follow_up_date"],
        tiebreak="encounter_id",
    )

    client = tables["mamba_dim_client"]
    return (
        lfa.join(client, "client_id", "inner")
        .join(cca, lfa["client_id"] == cca["cca_client_id"], "left")
        .filter(
            ((F.col("art_start_date") <= end) | F.col("art_start_date").isNull())
            & (F.col("sex") == "Female")
        )
        .select(
            F.when(F.col("sex") == "FEMALE", "F")
            .when(F.col("sex") == "MALE", "M")
            .alias("Sex"),
            F.col("weight"),
            complete_years_between(F.col("date_of_birth"), end).alias("Age"),
            F.col("cca_OfferedYes").alias("CCS_OfferedYes"),
            F.col("cca_OfferedNo").alias("CCS_OfferedNo"),
            F.col("cca_AcceptedYes").alias("CCS_AcceptedYes"),
            F.col("cca_AcceptedNo").alias("CCS_AcceptedNo"),
            F.col("cca_ScreenDoneYes").alias("CCS_ScreenDoneYes"),
            F.col("cca_ScreenDoneNo").alias("CCS_ScreenDoneNo"),
            F.col("cca_ScreenDone_Date").alias("CCS_ScreenDone_Date"),
            F.col("cca_Screen_Type").alias("CCS_Screen_Type"),
            F.col("cca_Screen_Method").alias("CCS_Screen_Method"),
            F.col("cca_HPV_Result").alias("CCS_HPV_Result"),
            F.col("cca_VIA_Result").alias("CCS_VIA_Result"),
            F.col("cca_Precancerous_Treat").alias("CCS_Precancerous_Treat"),
            F.col("cca_Suspicious_Treat").alias("CCS_Suspicious_Treat"),
            F.col("cca_Treat_Received_Date").alias("CCS_Treat_Received_Date"),
            F.col("cca_Next_Date").alias("CCS_Next_Date"),
            "date_hiv_confirmed",
            "art_start_date",
            F.col("follow_up_date").alias("FollowUpDate"),
            F.col("transfer_in").alias("Transfer_In"),
            F.col("dose_days").alias("ARTDoseDays"),
            "next_visit_date",
            "follow_up_status",
            F.col("follow_up_status").alias("FollowupStatusChar"),
            F.col("art_end_date").alias("ARTDoseEndDate"),
            F.col("patient_uuid").alias("PatientGUID"),
            F.col("currently_breastfeeding_child").alias("IsBreastfeeding"),
            F.when(
                (F.col("currently_breastfeeding_child") == "Yes")
                | (F.col("pregnancy_status") == "Yes"),
                "YES",
            )
            .otherwise("No")
            .alias("PMTCT_ART"),
        )
    )


def tx_curr_tpt_linelist(
    tables: Mapping[str, DataFrame],
    report_start: dt.date,
    report_end: dt.date,
    follow_up: DataFrame,
) -> DataFrame:
    """Tx_Curr_TPT_LineList — TB-preventive-therapy line list, one row
    per on-treatment patient (Tx_Curr_TPT_LineList.sql:1-201).

    The reference's four W1 dedups over one FollowUp selection (:61-97)
    are the latest visit, a window over the report's base row, and one
    aggregate of three lookups (latest TPT type, latest start, latest
    completion), joined per client (:192-197). Mixed-type CASE branches
    (``TPT_Type`` yields 0/2/1 or the raw string, :140-144) are emitted
    as strings — MySQL/DuckDB coerce such CASEs to text anyway. The
    final day-diff guard (:201) is redundant with
    ``art_start_date <= REPORT_END_DATE`` and folds away.
    """
    end = F.lit(report_end.isoformat()).cast("date")

    fu = follow_up.select(
        "encounter_id",
        "client_id",
        F.col("date_of_event").alias("hiv_confirmed_date"),
        F.col("art_antiretroviral_start_date").alias("art_start_date"),
        F.col("follow_up_date_followup_").alias("followup_date"),
        F.col("weight_text_").alias("weight_in_kg"),
        F.col("antiretroviral_art_dispensed_dose_i").alias("art_dose_days"),
        "follow_up_status",
        "next_visit_date",
        F.col("date_started_on_tuberculosis_prophy").alias(
            "inhprophylaxis_started_date"
        ),
        F.col("date_completed_tuberculosis_prophyl").alias(
            "InhprophylaxisCompletedDate"
        ),
        F.col("treatment_end_date").alias("art_end_date"),
        "current_who_hiv_stage",
        "cd4_count",
        "cd4_",
        "cotrimoxazole_prophylaxis_start_dat",
        "cotrimoxazole_prophylaxis_stop_date",
        F.col("patient_diagnosed_with_active_tuber").alias("active_tb_dx"),
        "diagnosis_date",
        "tuberculosis_drug_treatment_start_d",
        "date_active_tbrx_completed",
        F.col("tb_prophylaxis_type").alias("TB_ProphylaxisType"),
        F.col("tb_prophylaxis_type_alternate_").alias("TB_ProphylaxisTypeALT"),
        F.col("tpt_followup_6h_").alias("tpt_follow_up_inh"),
        "why_eligible_reason_",
        F.col("diagnostic_test").alias("tb_specimen_type"),
        F.col("fluconazole_start_date").alias("Fluconazole_Start_Date"),
        F.col("fluconazole_stop_date").alias("Fluconazole_End_Date"),
        F.col("transferred_in_check_this_for_all_t").alias("Transfer_In"),
    )

    # latest TPT type, start and completion per client (:61-97), capped
    # at the report end: one aggregate, joined once
    capped = F.col("followup_date") <= end
    has_type = capped & F.col("TB_ProphylaxisType").isNotNull()
    tpt = fu.groupBy("client_id").agg(
        F.max(F.when(capped, F.col("inhprophylaxis_started_date"))).alias(
            "TPT_Started_Date"
        ),
        F.max(F.when(capped, F.col("InhprophylaxisCompletedDate"))).alias(
            "TPT_Completed_Date"
        ),
        *[
            latest_value(c, ["followup_date"], where=has_type, tiebreak="encounter_id")
            .alias(f"latest_{c}")
            for c in ("TB_ProphylaxisType", "TB_ProphylaxisTypeALT")
        ],
    )
    latest_visit = latest_per_key(
        fu.filter(
            F.col("follow_up_status").isNotNull() & (F.col("followup_date") <= end)
        ),
        keys=["client_id"],
        order_by=["followup_date"],
        tiebreak="encounter_id",
    )

    client = tables["mamba_dim_client"]
    cohort = (
        latest_visit.join(client, "client_id", "left")
        .filter(
            (F.col("art_end_date") >= end)
            & F.col("follow_up_status").isin("Alive", "Restart medication")
            & (F.col("art_start_date") <= end)
        )
    )

    out = cohort.join(tpt, "client_id", "left")
    tpt_type_col = F.col("latest_TB_ProphylaxisType")
    tpt_type_alt = F.col("latest_TB_ProphylaxisTypeALT")
    return out.select(
        F.when(F.col("sex") == "FEMALE", "F")
        .when(F.col("sex") == "MALE", "M")
        .alias("Sex"),
        F.col("weight_in_kg").alias("Weight"),
        complete_years_between(F.col("date_of_birth"), end).alias("Age"),
        "TPT_Started_Date",
        "TPT_Completed_Date",
        F.when(tpt_type_col == "6H", "0")
        .when(tpt_type_col == "3HP", "2")
        .when(tpt_type_col == "Continuous", "1")
        .otherwise(tpt_type_col)
        .alias("TPT_Type"),
        F.when(tpt_type_alt == "3HP", "0")
        .when(tpt_type_alt == "3HR", "1")
        .otherwise(tpt_type_alt)
        .alias("TPT_TypeAlt"),
        F.when(tpt_type_col == "6H", "INH")
        .when(tpt_type_col == "3HP", "3HP")
        .otherwise("")
        .alias("TPT_TypeChar"),
        F.col("hiv_confirmed_date").alias("HIV_Confirmed_Date"),
        F.col("art_start_date").alias("ART_Start_Date"),
        F.col("followup_date").alias("FollowUpDate"),
        "Transfer_In",
        F.col("art_dose_days").alias("ARTDoseDays"),
        F.col("next_visit_date").alias("Next_visit_Date"),
        F.when(F.col("follow_up_status") == "Transferred out", 0)
        .when(F.col("follow_up_status") == "Stop all", 1)
        .when(F.col("follow_up_status") == "Loss to follow-up (LTFU)", 2)
        .when(F.col("follow_up_status") == "Ran away", 3)
        .when(F.col("follow_up_status") == "Dead", 4)
        .when(F.col("follow_up_status") == "Alive", 5)
        .when(F.col("follow_up_status") == "Restart medication", 6)
        .alias("FollowupStatus"),
        F.col("follow_up_status").alias("FollowupStatusChar"),
        F.col("art_end_date").alias("ARTDoseEndDate"),
        F.col("patient_uuid").alias("PatientGUID"),
        F.col("current_who_hiv_stage").alias("WHOStage"),
        F.col("cd4_count").alias("AdultCD4Count"),
        F.col("cd4_").alias("ChildCD4Count"),
        *_eth_pair(
            F.col("cotrimoxazole_prophylaxis_start_dat"),
            "CPT_StartDate",
            "CPT_StartDate_GC",
        ),
        *_eth_pair(
            F.col("cotrimoxazole_prophylaxis_stop_date"),
            "CPT_StopDate",
            "CPT_StopDate_GC",
        ),
        F.col("tb_specimen_type").alias("TB_SpecimenType"),
        F.col("active_tb_dx").alias("ActiveTBDiagnosed"),
        *_eth_pair(
            F.col("diagnosis_date"), "ActiveTBDignosedDate", "ActiveTBDignosedDate_GC"
        ),
        *_eth_pair(
            F.col("tuberculosis_drug_treatment_start_d"),
            "TBTx_StartDate",
            "TBTx_StartDate_GC",
        ),
        *_eth_pair(
            F.col("date_active_tbrx_completed"),
            "TBTx_CompletedDate",
            "TBTx_CompletedDate_GC",
        ),
        *_eth_pair(
            F.col("Fluconazole_Start_Date"),
            "FluconazoleStartDate",
            "FluconazoleStartDate_GC",
        ),
        *_eth_pair(
            F.col("Fluconazole_End_Date"), "FluconazoleEndDate", "FluconazoleEndDate_GC"
        ),
    )


def pmtct_maternal_linelist(
    tables: Mapping[str, DataFrame],
    report_start: dt.date,
    report_end: dt.date,
    follow_up: DataFrame,
) -> DataFrame:
    """PMTCT_Maternal_LineList — one row per PMTCT enrollment episode
    (PMTCT_Maternal_LineList.sql:1-177).

    Operator mix per SURVEY.md §2: J4 positional episode join
    (enrollment↔discharge matched by client + row_num + date
    inequality), W3 conditional-ORDER-BY windows (rank only in-episode
    events), W4 four ROW_NUMBERs in one pass consumed by four aliases
    of the ranked relation, J3 rank-predicate joins.

    Spark-first shape: the four windows share one
    ``Window.partitionBy(enrollment_id)`` Exchange; each consumer is a
    rank-filtered self-reference of the single ranked DataFrame. The
    tie-break pins from reports.QUERY_PATCHES apply here natively
    (encounter_id DESC on the VL windows).
    """
    end = F.lit(report_end.isoformat()).cast("date")

    # Enrollment / Discharge ranked positionally (:1-22)
    enr = ranked(
        tables["mamba_flat_encounter_pmtct_enrollment"],
        keys=["client_id"],
        order_by=["date_of_enrollment_or_booking"],
        descending=False,
        tiebreak="encounter_id",
    )
    dis = ranked(
        tables["mamba_flat_encounter_pmtct_discharge"],
        keys=["client_id"],
        order_by=["discharge_date"],
        descending=False,
        tiebreak="encounter_id",
    ).select(
        F.col("client_id").alias("d_client_id"),
        F.col("row_num").alias("d_row_num"),
        "discharge_date",
        "reason_for_discharge_from_pmtct",
    )

    # Episode_Window (:23-42): positional pairing + date inequality (J4)
    ew = (
        enr.join(
            dis,
            on=(enr["client_id"] == dis["d_client_id"])
            & (enr["row_num"] == dis["d_row_num"])
            & (dis["discharge_date"] > enr["date_of_enrollment_or_booking"]),
            how="left",
        )
        .select(
            enr["client_id"],
            enr["encounter_id"].alias("enrollment_id"),
            "antenatal_care_provider",
            "ld_client",
            "post_natal_care",
            "art_clinic",
            enr["date_of_enrollment_or_booking"].alias("start_date"),
            "discharge_date",
            "reason_for_discharge_from_pmtct",
            F.col("reason_for_discharge_from_pmtct").alias("discharge_outcome"),
            enr["currently_breastfeeding_child"].alias("ew_breastfeeding"),
            enr["pregnancy_status"].alias("ew_pregnancy"),
            enr["date_referred_to_pmtct"].alias("ew_date_referred"),
            F.coalesce("discharge_date", end).alias("effective_end_date"),
        )
    )

    # FollowUp projection (:44-100) from the cached wide view
    fu = follow_up.select(
        "encounter_id",
        F.col("client_id").alias("PatientId"),
        "follow_up_status",
        F.col("follow_up_date_followup_").alias("follow_up_date"),
        F.col("art_antiretroviral_start_date").alias("art_start_date"),
        F.col("antiretroviral_art_dispensed_dose_i").alias("ARTDoseDays"),
        F.col("anitiretroviral_adherence_level").alias("AdherenceLevel"),
        "regimen",
        "pregnancy_status",
        "nutritional_status_of_adult",
        F.col("cd4_count"),
        F.col("date_of_reported_hiv_viral_load").alias("viral_load_sent_date"),
        F.col("date_viral_load_results_received").alias("viral_load_perform_date"),
        "dsd_category",
        "next_visit_date",
        "weight_text_",
        F.coalesce(
            "at_3436_weeks_of_gestation",
            "viral_load_after_eac_confirmatory_viral_load_where_initial_v",
            "viral_load_after_eac_repeat_viral_load_where_initial_viral_l",
            "every_six_months_until_mtct_ends",
            "six_months_after_the_first_viral_load_test_at_postnatal_peri",
            "three_months_after_delivery",
            "at_the_first_antenatal_care_visit",
            "annual_viral_load_test",
            "second_viral_load_test_at_12_months_post_art",
            "first_viral_load_test_at_6_months_or_longer_post_art",
            "first_viral_load_test_at_3_months_or_longer_post_art",
        ).alias("routine_viral_load_test_indication"),
        F.coalesce(
            "repeat_or_confirmatory_vl_initial_viral_load_greater_than_10",
            "suspected_antiretroviral_failure",
        ).alias("targeted_viral_load_test_indication"),
        "viral_load_test_status",
    )

    # Events_Ranked (:102-139): 4 windows over one episode-joined
    # relation — one partitioning, four row_numbers (W3/W4). The VL
    # windows carry the canonical encounter tie-break the engine pins
    # (reports.QUERY_PATCHES, SURVEY.md §4.8).
    events = ew.select(
        "enrollment_id", "client_id", "start_date", "effective_end_date"
    ).join(fu, ew["client_id"] == fu["PatientId"], "left")

    def in_episode(col):
        return F.when(
            F.col(col).between(F.col("start_date"), F.col("effective_end_date")),
            F.col(col),
        )

    w = Window.partitionBy("enrollment_id")
    events = events.select(
        "*",
        F.row_number()
        .over(
            w.orderBy(
                in_episode("follow_up_date").desc(), F.col("encounter_id").desc()
            )
        )
        .alias("rn_latest_visit"),
        F.row_number()
        .over(
            w.orderBy(
                in_episode("viral_load_sent_date").desc(),
                F.col("encounter_id").desc(),
            )
        )
        .alias("rn_latest_vl_sent"),
        F.row_number()
        .over(
            w.orderBy(
                in_episode("viral_load_perform_date").desc(),
                F.col("encounter_id").desc(),
            )
        )
        .alias("rn_latest_vl_res"),
    )

    visit = events.filter(F.col("rn_latest_visit") == 1).select(
        F.col("enrollment_id").alias("v_eid"),
        "weight_text_",
        "art_start_date",
        "follow_up_date",
        "follow_up_status",
        "regimen",
        "ARTDoseDays",
        "nutritional_status_of_adult",
        "AdherenceLevel",
        "next_visit_date",
    )
    vl_s = events.filter(F.col("rn_latest_vl_sent") == 1).select(
        F.col("enrollment_id").alias("s_eid"),
        "viral_load_sent_date",
        "routine_viral_load_test_indication",
        "targeted_viral_load_test_indication",
        "cd4_count",
    )
    vl_r = events.filter(F.col("rn_latest_vl_res") == 1).select(
        F.col("enrollment_id").alias("r_eid"),
        "viral_load_perform_date",
        "viral_load_test_status",
    )
    # the reference also computes rn_latest_dsd and joins a `dsd` alias
    # (:127-139,:176-177) but never selects any of its columns; since
    # rn=1 is unique per enrollment the join can't change cardinality,
    # so the engine omits that window and join entirely.

    client = tables["mamba_dim_client"]
    return (
        ew.join(client, "client_id", "left")
        .join(visit, ew["enrollment_id"] == visit["v_eid"], "left")
        .join(vl_s, ew["enrollment_id"] == vl_s["s_eid"], "left")
        .join(vl_r, ew["enrollment_id"] == vl_r["r_eid"], "left")
        .select(
            F.col("patient_uuid").alias("PatientGUID"),
            F.col("sex").alias("Sex"),
            complete_years_between(F.col("date_of_birth"), end).alias("Age"),
            F.col("weight_text_").alias("Weight"),
            F.col("start_date").alias("BookingDate"),
            F.col("art_start_date").alias("ArtStartDate"),
            # the reference emits BookingDate twice (:144,:146)
            F.col("start_date").alias("BookingDate"),
            F.coalesce(
                "art_clinic", "antenatal_care_provider", "ld_client", "post_natal_care"
            ).alias("StatusatEnrollment"),
            F.col("ew_date_referred").alias("DateReferredtoPMTCT"),
            F.col("ew_pregnancy").alias("IsPregnant"),
            F.col("ew_breastfeeding").alias("IsBreastfeeding"),
            F.col("discharge_date").alias("DateofDischarge"),
            F.col("reason_for_discharge_from_pmtct").alias("ReasonforDischarge"),
            F.col("discharge_outcome").alias("MaternalPMTCTFinalOutcome"),
            F.col("follow_up_date").alias("LatestFollowupDate"),
            F.col("follow_up_status").alias("LatestFollowupStatus"),
            F.col("regimen").alias("Regimen"),
            F.col("ARTDoseDays").alias("Dose"),
            F.col("nutritional_status_of_adult").alias("NutritionalStatus"),
            F.col("AdherenceLevel").alias("Adherence"),
            F.col("viral_load_sent_date").alias("Viral_Load_Sent_Date"),
            F.coalesce(
                "routine_viral_load_test_indication",
                "targeted_viral_load_test_indication",
            ).alias("Viral_Load_Indication"),
            F.col("viral_load_perform_date").alias("Viral_Load_Received_Date"),
            F.col("viral_load_test_status").alias("LatestVLStatus"),
            F.col("cd4_count").alias("CD4Count"),
            F.col("next_visit_date").alias("NextVisitDate"),
        )
    )


#: immunization flag column → output label (PMTCT_HEI_LineList.sql:64-83)
_IMMUNIZATION_LABELS = {
    flag: flag.replace("_taken", "").replace("_", "").upper()
    for flag in HEI_IMMUNIZATION_FLAGS
}


def pmtct_hei_linelist(
    tables: Mapping[str, DataFrame],
    report_start: dt.date,
    report_end: dt.date,
) -> DataFrame:
    """PMTCT_HEI_LineList — one row per HIV-exposed infant with an
    in-window follow-up (PMTCT_HEI_LineList.sql:1-204).

    Operator mix per SURVEY.md §2: W1 dedup (enrollment, lab, final
    outcome), W2 earliest (CPT start), A1 MAX-flag aggregation rolled
    into CONCAT_WS (immunizations), J6 anti-join shape (Future_Visit
    existence → missed days), plus the 22-branch CASE ladders.
    """
    start = F.lit(report_start.isoformat()).cast("date")
    end = F.lit(report_end.isoformat()).cast("date")

    # HEI_Enrollment (:1-15): latest enrollment ≤ end
    enr = ranked(
        tables["mamba_flat_encounter_hei_enrollment"].filter(
            F.col("date_enrolled_in_care") <= end
        ),
        keys=["client_id"],
        order_by=["date_enrolled_in_care"],
        tiebreak="encounter_id",
    )

    # HEI_FollowUp (:16-46): in-window visits ranked latest-first, with
    # the followup_1 shard attached
    fu = (
        tables["mamba_flat_encounter_hei_followup"]
        .join(tables["mamba_flat_encounter_hei_followup_1"], "encounter_id", "left")
        .filter(F.col("followup_date_followup").between(start, end))
        .withColumnRenamed("followup_date_followup", "follow_up_date")
        .withColumn(
            "infant_feeding_practice",
            F.coalesce(
                F.col("infant_feeding_practice_within_the_first_6_months_of_life"),
                F.col("infant_feeding_practice_older_than_6_months_of_life"),
            ),
        )
    )
    fu = ranked(fu, ["client_id"], ["follow_up_date"], tiebreak="encounter_id").filter(
        F.col("row_num") == 1
    )

    # HEI_Lab (:47-59): latest DNA-PCR sample ≤ end
    lab = ranked(
        tables["mamba_flat_encounter_hei_hiv_test"].filter(
            F.col("dna_pcr_sample_collection_date") <= end
        ),
        keys=["client_id"],
        order_by=["dna_pcr_sample_collection_date"],
        tiebreak="encounter_id",
    ).filter(F.col("row_num") == 1)

    # Immunization (:61-85): MAX flag per client → CONCAT_WS label list
    imm_src = tables["mamba_flat_encounter_hei_immunization"]
    imm = imm_src.groupBy("client_id").agg(
        F.concat_ws(
            ", ",
            *[
                F.when(F.max(flag) == "Yes", F.lit(label))
                for flag, label in _IMMUNIZATION_LABELS.items()
            ],
        ).alias("Immunizations")
    )

    # CPT_Start (:86-102): earliest dosed follow-up (NULL dates sort
    # first under ASC — MySQL/Spark agree); CPT_Stop (:103-111): MAX
    # date with dose = 'DC'. The reference window has NO tie-break
    # (§4.8): two same-day dosed visits pick arbitrarily in MySQL —
    # pinned to encounter_id ASC on every target (QUERY_PATCHES adds
    # the same to the SQL paths; caught by the seed-2004 parity fuzz)
    hei_fu_all = tables["mamba_flat_encounter_hei_followup"].join(
        tables["mamba_flat_encounter_hei_followup_1"], "encounter_id"
    )
    cpt_start = (
        ranked(
            hei_fu_all.filter(
                F.col("cotrimoxazole_prophylaxis_dose").isNotNull()
                & (F.col("cotrimoxazole_prophylaxis_dose") != "")
            ),
            keys=["client_id"],
            order_by=["followup_date_followup"],
            descending=False,
            tiebreak="encounter_id",
        )
        .filter(F.col("row_num") == 1)
        .select(
            "client_id",
            F.col("followup_date_followup").alias("CPTStartDate"),
            F.col("cotrimoxazole_prophylaxis_dose").alias("CPTDose"),
        )
    )
    cpt_stop = (
        hei_fu_all.filter(F.col("cotrimoxazole_prophylaxis_dose") == "DC")
        .groupBy("client_id")
        .agg(F.max("followup_date_followup").alias("CPTDiscontinuedDate"))
    )

    # FinalOutcome (:112-121) / Future_Visit (:122-128); the outcome
    # window is also tie-break-free in the reference — same pin
    fo = ranked(
        tables["mamba_flat_encounter_hei_final_outcome"].filter(
            F.col("date_when_final_outcome_was_known") <= end
        ),
        keys=["client_id"],
        order_by=["date_when_final_outcome_was_known"],
        tiebreak="encounter_id",
    ).filter(F.col("row_num") == 1)
    future = (
        tables["mamba_flat_encounter_hei_followup"]
        .filter(F.col("followup_date_followup") > end)
        .select("client_id")
        .distinct()
        .withColumn("has_future_visit", F.lit(1))
    )

    client = tables["mamba_dim_client"]
    j = (
        fu.alias("f")
        .join(client.alias("client"), "client_id", "inner")
        .join(
            enr.filter(F.col("row_num") == 1)
            .select(
                "client_id", "date_enrolled_in_care", "hei_code", "infant_referred",
                "referring_facility_name", "arv_prophylaxis",
                F.col("weight_text").alias("birth_weight"),
                "mothers_pmtct_interventions",
            )
            .alias("enr"),
            "client_id",
            "left",
        )
        .join(
            lab.select(
                "client_id", "dna_pcr_sample_collection_date",
                "date_dbs_result_received", "hiv_test_result",
                "rapid_antibody_result", "test_type",
                "reason_sample_rejected_or_test_not_done",
            ).alias("lab"),
            "client_id",
            "left",
        )
        .join(imm, "client_id", "left")
        .join(cpt_start, "client_id", "left")
        .join(cpt_stop, "client_id", "left")
        .join(
            fo.select(
                "client_id", "hei_pmtct_final_outcome",
                "date_when_final_outcome_was_known",
                "name_of_where_patient_was_referred_to",
            ).alias("fo"),
            "client_id",
            "left",
        )
        .join(future, "client_id", "left")
    )

    conclusion = (
        F.when(
            F.col("no_clinical_or_laboratory_evidence_of_hiv") == "Yes",
            "No Clinical or laboratory evidence of HIV",
        )
        .when(F.col("clinical_evidence_of_hiv") == "Yes", "Clinical evidence of HIV")
        .when(
            F.col("laboratory_evidence_of_hiv_dna_pcr_antibody_tests") == "Yes",
            "Laboratory evidence of HIV(DNA PCR Test)",
        )
        .otherwise("")
    )
    decision = (
        F.when(
            F.col("continue_to_followup") == "Yes",
            "Continue follow-up – Still on BF/Exposed",
        )
        .when(F.col("transferred_out") == "Yes", "TO")
        .when(F.col("lost_to_followup") == "Yes", "Lost to follow up")
        .when(F.col("died") == "Yes", "Died")
        .when(
            F.col("referred_for_pediatric_hiv_care_within_facility") == "Yes",
            "Positive - Referred for Pediatric HIV care within facility",
        )
        .when(
            F.col("referred_pediatric_hiv_care_outside_facility") == "Yes",
            "Positive - Referred for Pediatric HIV care outside facility",
        )
        .when(
            F.col("discharged_negative_form_care_hiv_free") == "Yes",
            "Discharged Negative from care (HIV Free)",
        )
        .otherwise(F.col("decision"))
    )

    return j.select(
        F.col("patient_uuid").alias("PatientGUID"),
        F.when(F.col("sex") == "FEMALE", "F")
        .when(F.col("sex") == "MALE", "M")
        .alias("Sex"),
        F.col("date_of_birth").alias("DOB"),
        complete_years_between(F.col("date_of_birth"), end).alias("AgeYear"),
        complete_months_between(F.col("date_of_birth"), F.col("follow_up_date")).alias(
            "AgeMonth"
        ),
        complete_weeks_between(F.col("date_of_birth"), F.col("follow_up_date")).alias(
            "AgeInWeeks"
        ),
        F.col("birth_weight").alias("BirthWeight"),
        F.col("hei_code").alias("HEICode"),
        F.col("infant_referred").alias("InfantReferred"),
        F.col("referring_facility_name").alias("InfantReferingFacility"),
        F.col("date_enrolled_in_care").alias("EnrollmentDate"),
        eth_date_str(F.col("date_enrolled_in_care")).alias("EnrollmentDateET"),
        F.col("arv_prophylaxis").alias("InfantARVProphylaxis"),
        F.col("mothers_pmtct_interventions").alias("MotherPMTCTIntervention"),
        F.col("follow_up_date").alias("FollowupDate"),
        eth_date_str(F.col("follow_up_date")).alias("FollowupDateET"),
        F.col("weight_text_").alias("Weight"),
        F.col("growth_pattern").alias("GrowthPattern"),
        F.col("reason_for_growth_failure").alias("ReasonforGrowthFailure"),
        F.col("developmental_milestone_for_children").alias("DevelopmentMilestone"),
        F.col("reason_for_red_flag").alias("ReasonforRedFlag"),
        F.col("infant_feeding_practice").alias("InfantFeedingPractice"),
        F.col("mother_s_breast_condition").alias("MotherBreastCondition"),
        F.col("rapid_antibody_result").alias("RapidAntibodyTest"),
        F.col("test_type").alias("TestIndication"),
        F.col("dna_pcr_sample_collection_date").alias("DNAPCRSampleCollectionDate"),
        eth_date_str(F.col("dna_pcr_sample_collection_date")).alias(
            "DNAPCRSampleCollectionDateET"
        ),
        F.col("date_dbs_result_received").alias("DateofDBSResultReceived"),
        F.col("hiv_test_result").alias("DNAPCRResult"),
        F.datediff(
            F.col("date_dbs_result_received"),
            F.col("dna_pcr_sample_collection_date"),
        ).alias("TAT"),
        F.col("reason_sample_rejected_or_test_not_done").alias("Reason"),
        F.col("CPTStartDate"),
        F.col("CPTDose"),
        eth_date_str(F.col("CPTDiscontinuedDate")).alias("CPTDiscontinuedDate"),
        conclusion.alias("Conclusion"),
        decision.alias("Decision"),
        F.col("next_visit_date").alias("NextVisitDate"),
        F.col("hei_pmtct_final_outcome").alias("HEIPMTCTFinalOutcome"),
        F.col("date_when_final_outcome_was_known").alias("DateofFinalOutcome"),
        eth_date_str(F.col("date_when_final_outcome_was_known")).alias(
            "DateofFinalOutcomeET"
        ),
        F.col("Immunizations").alias("IMMUNIZATION"),
        F.when(
            (F.col("next_visit_date") < end) & F.col("has_future_visit").isNull(),
            F.datediff(end, F.col("next_visit_date")),
        ).alias("Missed_Days"),
        F.col("name_of_where_patient_was_referred_to").alias("ReferredTo"),
        complete_months_between(
            F.col("date_of_birth"), F.col("dna_pcr_sample_collection_date")
        ).alias("AgeSampleCollectionMonth"),
        complete_weeks_between(
            F.col("date_of_birth"), F.col("dna_pcr_sample_collection_date")
        ).alias("AgeSampleCollectionInWeeks"),
        complete_years_between(
            F.col("date_of_birth"), F.col("dna_pcr_sample_collection_date")
        ).alias("AgeSampleCollectionYear"),
    )


def tx_curr_hvl_linelist(
    tables: Mapping[str, DataFrame],
    report_start: dt.date,
    report_end: dt.date,
    follow_up: DataFrame,
) -> DataFrame:
    """Tx_Curr_HVL_LineList — high-viral-load cohort with the
    confirmatory-test follow-through (Tx_Curr_HVL_LineList.sql:1-357).

    The reference references its FollowUp CTE 12 times across 24 CTEs;
    here every branch reads the one cached wide view. Operator mix:
    window dedups (mixed ASC/DESC orders) where the chosen row is
    carried on (the routine and confirmatory VL results, the latest
    visit), aggregates where a lookup only lends a value (one over
    FollowUp ⋈ routine result for its sent date and the three EAC dates,
    one over FollowUp ⋈ confirmatory result for its sent date and the
    switch date, one for the latest Alive/Restart regimen), the
    correlated `regimen ... LIMIT 1` scalar subquery (:109-115) as an
    as-of join (J9), and a LEFT JOIN assembly on client_id (:274-287).

    Scale: every dedup/join keys on client_id, so on a client_id-
    bucketed warehouse layout the whole report is one Exchange; the
    as-of join is the groupBy-max-struct form (no row-id windows).
    """
    from data_export_tool_spark.operators.asof import asof_join

    end = F.lit(report_end.isoformat()).cast("date")
    end_minus_6m = F.add_months(end, -6)

    # FollowUp CTE projection (:1-61)
    _EAC_REPEAT = (
        "Viral load after EAC: repeat viral load where initial viral load "
        "greater than 50 and less than 1000 copies per ml"
    )
    _EAC_CONFIRM = (
        "Viral load after EAC: confirmatory viral load where initial viral "
        "load greater than 1000 copies per ml"
    )
    fu = follow_up.select(
        "encounter_id",
        "client_id",
        F.col("follow_up_date_followup_").alias("follow_up_date"),
        "follow_up_status",
        F.col("art_antiretroviral_start_date").alias("art_start_date"),
        F.col("regimen_change").alias("switch"),
        F.col("date_of_reported_hiv_viral_load").alias("viral_load_sent_date"),
        F.col("date_viral_load_results_received").alias("viral_load_performed_date"),
        "viral_load_test_status",
        F.col("hiv_viral_load").alias("viral_load_count"),
        "viral_load_test_indication",
        "hiv_viral_load_status",
        F.coalesce(
            "at_3436_weeks_of_gestation",
            "viral_load_after_eac_confirmatory_viral_load_where_initial_v",
            "viral_load_after_eac_repeat_viral_load_where_initial_viral_l",
            "every_six_months_until_mtct_ends",
            "six_months_after_the_first_viral_load_test_at_postnatal_peri",
            "three_months_after_delivery",
            "at_the_first_antenatal_care_visit",
            "annual_viral_load_test",
            "second_viral_load_test_at_12_months_post_art",
            "first_viral_load_test_at_6_months_or_longer_post_art",
            "first_viral_load_test_at_3_months_or_longer_post_art",
        ).alias("routine_vl_indication"),
        F.coalesce(
            "repeat_or_confirmatory_vl_initial_viral_load_greater_than_10",
            "suspected_antiretroviral_failure",
        ).alias("targeted_vl_indication"),
        F.col("date_third_enhanced_adherence_counseling_provided").alias("eac_3"),
        F.col("date_second_enhanced_adherence_counseling_provided").alias("eac_2"),
        F.col("date_first_enhanced_adherence_counseling_provided").alias("eac_1"),
        F.col("weight_text_").alias("weight"),
        F.col("date_of_event").alias("hiv_confirmed_date"),
        "pregnancy_status",
        F.col("antiretroviral_art_dispensed_dose_i").alias("dispensed_dose"),
        "regimen",
        F.col("anitiretroviral_adherence_level").alias("adherence"),
        "next_visit_date",
        F.col("treatment_end_date").alias("art_dose_end_date"),
    )

    # tmp_vl_performed_date_1(_dedup) (:64-80): latest ROUTINE result at
    # least 6 months old. NOT IN keeps MySQL 3VL: NULL routine drops out.
    vl1 = latest_per_key(
        fu.filter(
            (F.col("viral_load_performed_date") <= end_minus_6m)
            & ~F.col("routine_vl_indication").isin(_EAC_REPEAT, _EAC_CONFIRM)
            & (
                F.col("targeted_vl_indication").isNull()
                | ~F.col("targeted_vl_indication").isin(
                    "Suspected ART failure", "Suspected Antiretroviral failure"
                )
            )
        ),
        keys=["client_id"],
        order_by=["viral_load_performed_date"],
        tiebreak="encounter_id",
    )

    # each client's routine result date, for the lookups keyed on it
    routine_date = vl1.select(
        "client_id", F.col("viral_load_performed_date").alias("routine_perf_date")
    )
    routine = F.col("routine_perf_date")
    eac_dates = [f"date_eac_provided_{k}" for k in (1, 2, 3)]
    # one aggregate over fu ⋈ vl1: tmp_vl_sent_date / vl_sent_date
    # (:82-94), the latest send date among follow-ups sharing the routine
    # result date, and vl_perf_date_eac_1/2/3 (:189-215), the earliest
    # EAC-k date at-or-after the routine result
    vl1_lookups = (
        fu.join(routine_date, on="client_id", how="inner")
        .groupBy("client_id")
        .agg(
            F.max(
                F.when(
                    (F.col("viral_load_performed_date") == routine)
                    & (F.col("follow_up_date") <= end),
                    F.col("viral_load_sent_date"),
                )
            ).alias("VL_Sent_Date"),
            *[
                F.min(F.when((routine <= F.col(c)) & (F.col(c) <= end), F.col(c)))
                .alias(name)
                for name, c in zip(eac_dates, ("eac_1", "eac_2", "eac_3"))
            ],
        )
    )

    # vl_performed_date (:96-119) + the correlated LIMIT 1 regimen
    # subquery (:109-115) as an as-of join on (client_id, ref date)
    vlperf_base = (
        vl1.join(vl1_lookups, on="client_id", how="left")
        .select(
            "encounter_id",
            "client_id",
            "viral_load_performed_date",
            "viral_load_test_status",
            "viral_load_count",
            "VL_Sent_Date",
            F.coalesce("VL_Sent_Date", "viral_load_performed_date").alias(
                "viral_load_ref_date"
            ),
            F.col("routine_vl_indication").alias("routine_viral_load"),
            F.col("targeted_vl_indication").alias("target"),
            *eac_dates,
        )
    )
    vlperf = asof_join(
        vlperf_base,
        fu.select("client_id", "follow_up_date", F.col("encounter_id").alias("rg_eid"), F.col("regimen").alias("hvl_regimen")),
        on=["client_id"],
        left_time="viral_load_ref_date",
        right_time="follow_up_date",
        tiebreak="rg_eid",
        how="left",
        direction="backward",
        suffix="_rg",
    ).select(
        "client_id",
        # vp_-prefixed: f_case carries same-named raw columns in the
        # final assembly (hvl CTE reads these from vlperfdate, :255-257)
        F.col("viral_load_performed_date").alias("vp_performed_date"),
        F.col("viral_load_test_status").alias("vp_test_status"),
        F.col("viral_load_count").alias("vp_count"),
        "VL_Sent_Date",
        "viral_load_ref_date",
        "routine_viral_load",
        "target",
        "hvl_regimen",
        *eac_dates,
    )

    # tmp_vl_performed_date_cf(_2) (:121-144): earliest confirmatory
    # result at-or-after the routine result (ASC date, DESC encounter)
    w_cf = Window.partitionBy("client_id").orderBy(
        F.col("viral_load_performed_date").asc(), F.col("encounter_id").desc()
    )
    cf2 = (
        fu.join(routine_date, on="client_id", how="inner")
        .filter(
            (F.col("hiv_viral_load_status") == "Completed")
            & (
                (
                    (F.col("viral_load_test_indication") == "Routine viral load test indication")
                    & F.col("routine_vl_indication").isin(_EAC_REPEAT, _EAC_CONFIRM)
                )
                | (
                    (F.col("viral_load_test_indication") == "Targeted viral load test indication")
                    & F.col("targeted_vl_indication").isin(
                        "Suspected ART failure", "Suspected Antiretroviral failure"
                    )
                )
            )
            & (F.col("viral_load_performed_date") >= routine)
            & (F.col("viral_load_performed_date") <= end)
        )
        .withColumn("row_num", F.row_number().over(w_cf))
        .filter(F.col("row_num") == 1)
    )

    # one aggregate over fu ⋈ cf2: tmp_switch_sub_date / switch_sub_date
    # (:145-154), the first regimen switch within [confirmatory date,
    # report end], and tmp_vl_sent_date_cf / vl_sent_date_cf (:156-168),
    # the EARLIEST send date among follow-ups sharing the confirmatory
    # result date
    cf_date = F.col("cf_perf_date")
    cf_lookups = (
        fu.join(
            cf2.select(
                "client_id", F.col("viral_load_performed_date").alias("cf_perf_date")
            ),
            on="client_id",
            how="inner",
        )
        .groupBy("client_id")
        .agg(
            F.min(
                F.when(
                    F.col("follow_up_date").between(cf_date, end)
                    & (F.col("switch") == "Regimen switch type"),
                    F.col("follow_up_date"),
                )
            ).alias("switch_date"),
            F.min(
                F.when(
                    (F.col("viral_load_performed_date") == cf_date)
                    & (F.col("follow_up_date") <= end),
                    F.col("viral_load_sent_date"),
                )
            ).alias("viral_load_sent_date_cf"),
        )
    )

    # tmp_vl_performed_date_cf_3 (:171-188)
    cf3 = (
        cf2.join(cf_lookups, on="client_id", how="left")
        .select(
            "client_id",
            F.col("viral_load_performed_date").alias("viral_load_perform_date_cf"),
            F.col("viral_load_test_status").alias("viral_load_status_cf_raw"),
            F.col("viral_load_count").alias("viral_load_count_cf"),
            "viral_load_sent_date_cf",
            F.col("routine_vl_indication").alias("routine_viral_load_cf"),
            F.col("targeted_vl_indication").alias("target_cf"),
            "switch_date",
        )
    )

    # tmp_latest_follow_up (:216-235)
    latest_fu = latest_per_key(
        fu.filter(
            F.col("follow_up_status").isNotNull() & (F.col("follow_up_date") <= end)
        ),
        keys=["client_id"],
        order_by=["follow_up_date"],
        tiebreak="encounter_id",
    )

    # latest_alive_restart_regimen (:225-234)
    latest_regimen = fu.groupBy("client_id").agg(
        latest_value(
            "regimen",
            ["follow_up_date"],
            where=F.col("follow_up_status").isin("Alive", "Restart medication")
            & (F.col("follow_up_date") <= end),
            tiebreak="encounter_id",
        ).alias("latest_regimen")
    )

    # hvl assembly (:236-287)
    client = tables["mamba_dim_client"]
    h = (
        latest_fu.join(latest_regimen, on="client_id", how="left")
        .join(
            client.select("client_id", "patient_uuid", "date_of_birth", "sex"),
            on="client_id",
            how="left",
        )
        .join(vlperf, on="client_id", how="left")
        .join(cf3, on="client_id", how="left")
    )

    art_dose = F.coalesce(F.col("latest_regimen"), F.col("regimen"))

    def vl_status_case(count_col: str, status_col: str):
        # the count is a free-text column; MySQL coerces it to DOUBLE in
        # numeric comparisons (:302-306) — made explicit here
        c, s = F.col(count_col).cast("double"), F.col(status_col)
        return (
            F.when(
                c.isNotNull(),
                F.when(c < 51, "Suppressed")
                .when(c.between(51, 1000), "Low Level Viremia")
                .when(c > 1000, "High VL"),
            )
            .when(s.like("Su%") | s.like("Undet%"), "Suppressed")
            .when(s.like("Low Level Viremia%"), "Low Level Viremia")
            .when(s.like("Det%") | s.like("Uns%") | s.like("High VL%"), "High VL")
        )

    # final projection + HVL cohort filter (:288-357)
    out = h.select(
        F.when(F.col("sex") == "FEMALE", "F")
        .when(F.col("sex") == "MALE", "M")
        .alias("Sex"),
        F.col("weight").alias("Weight"),
        complete_years_between(
            F.col("date_of_birth"),
            # vlsentdate.VL_Sent_Date else vlperfdate's result date (:237-238)
            F.coalesce("VL_Sent_Date", "vp_performed_date"),
        ).alias("Age"),
        F.col("hiv_confirmed_date").alias("date_hiv_confirmed"),
        "art_start_date",
        F.col("follow_up_date").alias("FollowUpDate"),
        F.col("pregnancy_status").alias("IsPregnant"),
        F.col("dispensed_dose").alias("ARVDispendsedDose"),
        art_dose.alias("art_dose"),
        "next_visit_date",
        "follow_up_status",
        F.col("art_dose_end_date").alias("art_dose_End"),
        F.col("vp_performed_date").alias("viral_load_perform_date"),
        vl_status_case("vp_count", "vp_test_status").alias("viral_load_status"),
        F.col("vp_count").alias("viral_load_count"),
        F.col("VL_Sent_Date").alias("viral_load_sent_date"),
        "viral_load_ref_date",
        "routine_viral_load",
        "target",
        F.col("switch_date").alias("date_regimen_change"),
        "date_eac_provided_1",
        "date_eac_provided_2",
        "date_eac_provided_3",
        F.lit(None).cast("date").alias("date_eac_provided_4"),
        F.lit(None).cast("date").alias("date_eac_provided_5"),
        F.lit(None).cast("date").alias("date_eac_provided_6"),
        "viral_load_sent_date_cf",
        "viral_load_perform_date_cf",
        vl_status_case("viral_load_count_cf", "viral_load_status_cf_raw").alias(
            "viral_load_status_cf"
        ),
        "viral_load_count_cf",
        "routine_viral_load_cf",
        "target_cf",
        F.col("patient_uuid").alias("PatientGUID"),
        F.col("hvl_regimen").alias("hvl_Regimen"),
        art_dose.alias("current_regimen"),
        F.col("adherence").alias("Adherance"),
        F.col("follow_up_status").alias("follow_up_status_text"),
        # WHERE (:353-357) binds hvl's raw columns, not the CASE alias
        F.col("vp_test_status").alias("__raw_status"),
    )
    return out.filter(
        (
            F.col("viral_load_count").cast("double").between(51, 1000)
            | (F.col("viral_load_count").cast("double") > 1000)
            | F.col("__raw_status").like("Low Level Viremia%")
            | F.col("__raw_status").like("Det%")
            | F.col("__raw_status").like("Uns%")
            | F.col("__raw_status").like("High VL%")
        )
        & (F.datediff(end, F.col("art_start_date")) >= 0)
    ).drop("__raw_status")


def tx_curr_ahd_linelist(
    tables: Mapping[str, DataFrame],
    report_start: dt.date,
    report_end: dt.date,
    follow_up: DataFrame,
) -> DataFrame:
    """Tx_Curr_AHD_LineList — advanced-HIV-disease profile of the
    on-treatment cohort (Tx_Curr_AHD_LineList.sql:1-428).

    The reference is 46 CTEs / 21 LEFT JOINs, but 18 of the CTE pairs
    are ONE shape: "latest non-null value of attribute X per patient"
    (W1). Here those 18, the VISITECT result and the VL sent date are
    one ``groupBy(PatientId)`` aggregate of ``latest_value``/``max``
    columns over the one cached wide view, joined once. Windows remain
    only where the chosen row is carried on: the latest visit, the
    tx_curr cohort and the latest VL result.

    Dialect pins (plans/dialect.py): the VISITECT `WHEN 'a' OR 'b'`
    simple-CASE branch is dead (never matches) on both engines
    (SURVEY.md §4.2); free-text numeric columns compare as
    TRY_CAST-to-DOUBLE (malformed → NULL → false).

    Scale: every dedup, aggregate and join keys on the patient id — one
    logical Exchange on a client_id-bucketed layout.
    """
    end = F.lit(report_end.isoformat()).cast("date")

    fu = follow_up.select(
        "encounter_id",
        F.col("client_id").alias("PatientId"),
        "follow_up_status",
        F.col("follow_up_date_followup_").alias("follow_up_date"),
        F.col("art_antiretroviral_start_date").alias("art_start_date"),
        F.col("date_started_on_tuberculosis_prophy").alias("inh_started_date"),
        F.col("date_completed_tuberculosis_prophyl").alias("inh_completed_date"),
        F.col("tb_prophylaxis_type").alias("tb_prophylaxis_type"),
        F.col("tpt_dispensed_dose_in_days_alternat").alias("tpt_dose_alt"),
        F.col("tpt_side_effects").alias("tpt_side_effect"),
        F.col("diagnostic_test").alias("diagnostic_test"),
        F.col("tb_diagnostic_test_result").alias("diagnostic_test_result"),
        F.col("lf_lam_result").alias("lf_lam"),
        F.col("gene_xpert_result").alias("gene_xpert"),
        F.col("tuberculosis_drug_treatment_start_d").alias("tb_rx_start_date"),
        F.col("tpt_dispensed_dose_in_days_inh_").alias("tpt_dose_inh"),
        F.col("was_the_patient_screened_for_tuberc").alias("tb_screened_flag"),
        F.col("screening_test_result_tuberculosis").alias("tb_screening_flag"),
        F.col("adherence").alias("tpt_adherence_raw"),
        F.col("date_active_tbrx_completed").alias("tb_rx_completed_date"),
        F.col("date_active_tbrx_dc").alias("tb_rx_discontinued_date"),
        F.col("cervical_cancer_screening_status").alias("ccs_screen_done"),
        F.col("date_of_reported_hiv_viral_load").alias("vl_sent_date_raw"),
        F.col("date_viral_load_results_received").alias("vl_perform_date_raw"),
        "viral_load_test_status",
        F.col("hiv_viral_load").alias("viral_load_count"),
        "treatment_end_date",
        F.col("weight_text_").alias("Weight"),
        "height",
        F.col("date_of_event").alias("date_hiv_confirmed"),
        "current_who_hiv_stage",
        "cd4_count",
        F.col("antiretroviral_art_dispensed_dose_i").alias("art_dose_days"),
        "regimen",
        F.col("anitiretroviral_adherence_level").alias("adherence_level"),
        "pregnancy_status",
        "method_of_family_planning",
        "crag",
        "cotrimoxazole_prophylaxis_start_dat",
        "cotrimoxazole_prophylaxis_stop_date",
        "current_functional_status",
        "patient_diagnosed_with_active_tuber",
        F.col("fluconazole_start_date").alias("Fluconazole_Start_Date"),
        F.col("weight_for_age_status").alias("NSLessthanFive"),
        F.col("nutritional_status_of_older_child_a").alias("NSAdolescent"),
        F.col("nutritional_status_of_adult").alias("ns_adult"),
        F.col("are_there_any_ois_").alias("No_OI"),
        F.col("herpes_zoster").alias("Zoster"),
        F.col("bacterial_pneumonia").alias("Bacterial_Pneumonia"),
        F.col("extra_pulmonary_tuberculosis_tb").alias("Extra_Pulmonary_TB"),
        F.col("candidiasis_of_the_esophagus").alias("Oesophageal_Candidiasis"),
        F.col("candidiasis_vaginal").alias("Vaginal_Candidiasis"),
        F.col("mouth_ulcer").alias("Mouth_Ulcer"),
        F.col("diarrhea_chronic").alias("Chronic_Diarrhea"),
        F.col("acute_diarrhea").alias("Acute_Diarrhea"),
        F.col("toxoplasmosis").alias("CNS_Toxoplasmosis"),
        F.col("meningitis_cryptococcal").alias("Cryptococcal_Meningitis"),
        F.col("kaposi_sarcoma_oral").alias("Kaposi_Sarcoma"),
        F.col("suspected_cervical_cancer").alias("Cervical_Cancer"),
        F.col("pulmonary_tuberculosis_tb").alias("Pulmonary_TB"),
        F.col("candidiasis_oral").alias("Oral_Candidiasis"),
        F.col("pneumocystis_carinii_pneumonia_pcp").alias("Pneumocystis_Pneumonia"),
        F.col("malignant_lymphoma_nonhodgkins").alias("NonHodgkins_Lymphoma"),
        F.col("female_genital_ulcer_disease").alias("Genital_Ulcer"),
        F.col("other_opportunistic_illnesses").alias("OI_Other"),
        F.col("fluconazole_stop_date").alias("Fluconazole_End_Date"),
        "nutritional_screening_result",
        "dsd_category",
        F.col("other_medications_med_1").alias("Med1"),
        F.col("other_medications_med2").alias("Med2"),
        "visitect_cd4_result",
        "visitect_cd4_test_date",
    )

    # The AHD workhorse (:94-228): the latest non-null value of one
    # attribute per patient, ordered by the attribute itself (date
    # attributes: their max) or by follow_up_date, some capped at the
    # report end. All 20 lookups are one aggregate.
    capped = F.col("follow_up_date") <= end

    def latest(src: str, where=None):
        has = F.col(src).isNotNull()
        return latest_value(
            src,
            ["follow_up_date"],
            where=has if where is None else has & where,
            tiebreak="encounter_id",
        )

    visitect_date = F.col("visitect_cd4_test_date")
    lookups = fu.groupBy("PatientId").agg(
        F.max("inh_started_date").alias("a_inh_started"),
        F.max("inh_completed_date").alias("a_inh_completed"),
        F.max(F.when(visitect_date <= end, visitect_date)).alias("a_visitect_date"),
        latest_value(
            "visitect_cd4_result",
            [visitect_date],
            where=visitect_date <= end,
            tiebreak="encounter_id",
        ).alias("a_visitect_result"),
        latest("tb_prophylaxis_type").alias("a_tpt_type"),
        latest("tpt_dose_alt").alias("a_tpt_dose_alt"),
        latest("tpt_dose_inh").alias("a_tpt_dose_inh"),
        latest("tpt_side_effect").alias("a_tpt_side_effect"),
        latest("diagnostic_test", capped).alias("a_tb_diag_test"),
        latest("diagnostic_test_result", capped).alias("a_tb_diag_result"),
        latest("lf_lam", capped).alias("a_lf_lam"),
        latest("gene_xpert", capped).alias("a_gene_xpert"),
        latest("tb_screened_flag").alias("a_tb_screened"),
        latest("tb_screening_flag", capped).alias("a_tb_screening"),
        latest("tpt_adherence_raw").alias("a_tpt_adherence"),
        F.max("tb_rx_start_date").alias("a_tb_rx_start"),
        F.max("tb_rx_completed_date").alias("a_tb_rx_completed"),
        F.max("tb_rx_discontinued_date").alias("a_tb_rx_discontinued"),
        latest("ccs_screen_done").alias("a_cca_screened"),
        # vl_sent_date (:222-228): NO not-null gate — the latest sent
        # date among pre-end follow-ups, NULL when all are NULL
        F.max(F.when(capped, F.col("vl_sent_date_raw"))).alias("a_vl_sent_date"),
    )

    # vl_performed_date (:231-256)
    vl1 = latest_per_key(
        fu.filter(
            F.col("follow_up_status").isNotNull()
            & F.col("art_start_date").isNotNull()
            & (F.col("follow_up_date") <= end)
            & F.col("vl_perform_date_raw").isNotNull()
        ),
        keys=["PatientId"],
        order_by=["vl_perform_date_raw"],
        tiebreak="encounter_id",
    )
    vlperf = (
        vl1.join(lookups.select("PatientId", "a_vl_sent_date"), on="PatientId", how="left")
        .select(
            "PatientId",
            F.col("vl_perform_date_raw").alias("a_vl_perform_date"),
            F.col("viral_load_test_status").alias("a_vl_status"),
            F.col("viral_load_count").alias("a_vl_count"),
            F.coalesce("a_vl_sent_date", "vl_perform_date_raw").alias(
                "a_vl_ref_date"
            ),
        )
    )

    # latest_follow_up (:259-268): NOT date-capped
    latest_fu = latest_per_key(
        fu.filter(
            F.col("follow_up_status").isNotNull() & F.col("art_start_date").isNotNull()
        ),
        keys=["PatientId"],
        order_by=["follow_up_date"],
        tiebreak="encounter_id",
    )

    # tx_curr (:270-286)
    tx_curr = (
        ranked(
            fu.filter(
                F.col("follow_up_status").isNotNull()
                & F.col("art_start_date").isNotNull()
                & (F.col("follow_up_date") <= end)
            ).select(
                "PatientId",
                "encounter_id",
                "follow_up_date",
                "treatment_end_date",
                "follow_up_status",
            ),
            ["PatientId"],
            ["follow_up_date"],
            tiebreak="encounter_id",
        )
        .filter(
            (F.col("row_num") == 1)
            & (F.col("treatment_end_date") >= end)
            & F.col("follow_up_status").isin("Alive", "Restart medication")
        )
        .select("PatientId")
    )

    client = tables["mamba_dim_client"]
    h = (
        latest_fu.join(tx_curr, on="PatientId", how="inner")
        .join(
            client.select(
                F.col("client_id").alias("PatientId"),
                "patient_uuid",
                "date_of_birth",
                "sex",
            ),
            on="PatientId",
            how="left",
        )
        .join(vlperf, on="PatientId", how="left")
        .join(lookups, on="PatientId", how="left")
        .filter(F.col("follow_up_status") != "Dead")
    )

    age_years = complete_years_between(F.col("date_of_birth"), end)
    cd4 = F.col("cd4_count").try_cast("double")

    ahd_case = (
        F.when(age_years < 5, "Yes")
        .when(
            (age_years >= 5)
            & (
                (
                    F.col("a_visitect_result").isNull()
                    & F.col("cd4_count").isNotNull()
                    & (cd4 < 200)
                )
                | (F.col("a_visitect_result") == "VISITECT <200 copies/ml")
            ),
            "Yes",
        )
        .when(
            (age_years >= 5)
            & F.col("current_who_hiv_stage").isNotNull()
            & F.col("current_who_hiv_stage").isin(
                "WHO stage 3 adult", "WHO stage 3 peds", "WHO stage 4 peds"
            ),
            "Yes",
        )
        .when(
            (age_years >= 5)
            & F.col("current_who_hiv_stage").isNotNull()
            & (F.col("current_who_hiv_stage") == "WHO stage 4 adult"),
            "Yes",
        )
        .otherwise("No")
    )

    def diag_case(test_name: str):
        t, r = F.col("a_tb_diag_test"), F.col("a_tb_diag_result")
        return (
            F.when((t == test_name) & (r == "Positive"), "Positive")
            .when((t == test_name) & (r == "Negative"), "Negative")
            .otherwise("")
        )

    return h.select(
        F.when(F.col("sex") == "FEMALE", "F")
        .when(F.col("sex") == "MALE", "M")
        .alias("Sex"),
        F.col("Weight"),
        age_years.alias("Age"),
        F.col("patient_uuid").alias("PatientGUID"),
        F.col("height").alias("Height"),
        F.col("date_hiv_confirmed").alias("HIV_Confirmed_Date"),
        F.col("art_start_date").alias("ARTStartDate"),
        period_diff_months(end, F.col("art_start_date")).alias("MonthsOnART"),
        F.col("follow_up_date").alias("FollowUpDate"),
        F.col("current_who_hiv_stage").alias("WHOStage"),
        F.col("cd4_count").alias("CD4Count"),
        # VISITECT simple-CASE: the `WHEN 'a' OR 'b'` arm is dead on
        # both engines (dialect pin, SURVEY.md §4.2) — only the first
        # arm can match
        F.when(
            F.col("a_visitect_result") == "VISITECT <200 copies/ml",
            "<200 copies/ml",
        ).alias("VISITECT_CD4_Test_Result"),
        F.col("a_visitect_date").alias("VISITECT_CD4_Test_Date"),
        F.col("art_dose_days").alias("ARTDoseDays"),
        F.col("regimen").alias("ARVRegimen"),
        F.col("follow_up_status").alias("FollowupStatus"),
        F.col("adherence_level").alias("AdheranceLevel"),
        F.col("pregnancy_status").alias("IsPregnant"),
        F.col("method_of_family_planning").alias("FpMethodUsed"),
        F.col("crag").alias("CrAg"),
        F.coalesce("ns_adult", "NSAdolescent", "NSLessthanFive").alias(
            "NutritionalStatus"
        ),
        F.col("current_functional_status").alias("FunctionalStatus"),
        "No_OI",
        "Zoster",
        "Bacterial_Pneumonia",
        "Extra_Pulmonary_TB",
        "Oesophageal_Candidiasis",
        "Vaginal_Candidiasis",
        "Mouth_Ulcer",
        "Chronic_Diarrhea",
        "Acute_Diarrhea",
        "CNS_Toxoplasmosis",
        "Cryptococcal_Meningitis",
        "Kaposi_Sarcoma",
        "Cervical_Cancer",
        "Pulmonary_TB",
        "Oral_Candidiasis",
        "Pneumocystis_Pneumonia",
        "NonHodgkins_Lymphoma",
        "Genital_Ulcer",
        "OI_Other",
        "Med1",
        "Med2",
        F.col("cotrimoxazole_prophylaxis_start_dat").alias("CotrimoxazoleStartDate"),
        F.col("cotrimoxazole_prophylaxis_stop_date").alias("cortimoxazole_stop_date"),
        "Fluconazole_Start_Date",
        "Fluconazole_End_Date",
        F.col("a_tpt_type").alias("TPT_Type"),
        F.col("a_inh_started").alias("inhprophylaxis_started_date"),
        F.col("a_inh_completed").alias("InhprophylaxisCompletedDate"),
        F.col("a_tpt_dose_alt").alias("TPT_DoseDaysNumberALT"),
        F.col("a_tpt_dose_inh").alias("TPT_DoseDaysNumberINH"),
        F.coalesce("a_tpt_dose_inh", "a_tpt_dose_alt").alias("TPT_Dispensed_Dose"),
        F.col("a_tpt_side_effect").alias("TPT_SideEffect"),
        F.col("a_tpt_adherence").alias("TPT_Adherence"),
        F.col("a_tb_screened").alias("tb_screened"),
        F.col("a_tb_screening").alias("tb_screening_result"),
        F.col("a_tb_diag_result").alias("TB_Diagnostic_Result"),
        F.col("a_lf_lam").alias("LF_LAM_result"),
        F.col("a_gene_xpert").alias("Gene_Xpert_result"),
        diag_case("Smear microscopy only").alias("Smear_Microscopy_Result"),
        diag_case("Additional test other than Gene-Xpert").alias(
            "Additional_TB_Diagnostic_Test_Result"
        ),
        F.col("patient_diagnosed_with_active_tuber").alias("Active_TB"),
        F.col("a_tb_rx_start").alias("ActiveTBTreatmentStartDate"),
        F.col("a_tb_rx_completed").alias("ActiveTBTreatmentCompletedDate"),
        F.col("a_tb_rx_discontinued").alias("ActiveTBTreatmentDiscontinuedDate"),
        F.col("a_vl_perform_date").alias("Viral_Load_Perform_Date"),
        F.col("a_vl_status").alias("Viral_Load_Status"),
        F.col("a_vl_count").alias("Viral_Load_count"),
        F.col("a_vl_sent_date").alias("VL_Sent_Date"),
        F.col("a_vl_ref_date").alias("Viral_Load_Ref_Date"),
        F.col("a_cca_screened").alias("CCA_Screened"),
        F.col("dsd_category").alias("DSD_Category"),
        ahd_case.alias("AHD"),
        F.col("follow_up_status").alias("current_status"),
    ).distinct()


def tx_curr_vl_eligible_linelist(
    tables: Mapping[str, DataFrame],
    report_start: dt.date,
    report_end: dt.date,
    follow_up: DataFrame,
) -> DataFrame:
    """Tx_Curr_VLEligible_LineList — next-VL-eligibility date per
    on-treatment patient (Tx_Curr_VLEligible_LineList.sql:1-267).

    The reference's five W1 dedups over the cached wide view are two
    windows (the latest visit and the latest VL result, whose rows are
    carried on) and one aggregate (latest sent date, latest regimen
    change), and they feed a 17-branch eligibility CASE. Dialect pins:
    MySQL complete-unit TIMESTAMPDIFF
    (functions.datetime_ext), free-text counts compared as doubles,
    the `'' AS eligiblityDate` sentinel mapped to NULL on both engines
    (QUERY_PATCHES policy, SURVEY.md §4.5).
    """
    end = F.lit(report_end.isoformat()).cast("date")

    fu = follow_up.select(
        "client_id",
        "encounter_id",
        F.col("date_viral_load_results_received").alias("viral_load_perform_date"),
        "follow_up_status",
        F.col("follow_up_date_followup_").alias("follow_up_date"),
        F.col("art_antiretroviral_start_date").alias("art_start_date"),
        "viral_load_test_status",
        F.col("hiv_viral_load").alias("viral_load_count"),
        "pregnancy_status",
        F.col("antiretroviral_art_dispensed_dose_i").alias("arv_dispensed_dose"),
        "regimen",
        "next_visit_date",
        "treatment_end_date",
        F.col("date_of_event").alias("date_hiv_confirmed"),
        F.col("weight_text_").alias("weight"),
        F.col("date_of_reported_hiv_viral_load").alias("viral_load_sent_date"),
        "regimen_change",
    )
    capped = fu.filter(F.col("follow_up_date") <= end)

    lookups = capped.groupBy("client_id").agg(
        # vl_sent_date (:59-65): latest sent date (no NOT NULL gate; DESC
        # puts NULLs last on MySQL/Spark/DuckDB alike)
        F.max("viral_load_sent_date").alias("VL_Sent_Date"),
        # switch_sub_date (:66-73): latest follow-up carrying any regimen
        # change
        F.max(
            F.when(F.col("regimen_change").isNotNull(), F.col("follow_up_date"))
        ).alias("switch_follow_up_date"),
    )

    # vl_performed_date(_2) (:74-98)
    vl1 = latest_per_key(
        capped,
        keys=["client_id"],
        order_by=["viral_load_perform_date"],
        tiebreak="encounter_id",
    )
    vlperf = (
        vl1.join(lookups.select("client_id", "VL_Sent_Date"), on="client_id", how="left")
        .select(
            "client_id",
            F.col("viral_load_perform_date").alias("vp_performed_date"),
            F.col("viral_load_test_status").alias("vp_test_status"),
            F.col("viral_load_count").alias("vp_count"),
            F.coalesce("VL_Sent_Date", "viral_load_perform_date").alias(
                "vp_ref_date"
            ),
        )
    )

    # latest_follow_up (:99-105): NO status/art gates here
    latest_fu = latest_per_key(
        capped, keys=["client_id"], order_by=["follow_up_date"], tiebreak="encounter_id"
    )

    client = tables["mamba_dim_client"]
    h = (
        latest_fu.join(vlperf, on="client_id", how="left")
        .join(lookups, on="client_id", how="left")
        .join(
            client.select("client_id", "patient_uuid", "date_of_birth", "sex"),
            on="client_id",
            how="inner",
        )
    )

    months_on_art = complete_months_between(F.col("art_start_date"), end)
    days_on_art = F.datediff(end, F.col("art_start_date"))
    years_on_art = complete_years_between(F.col("art_start_date"), end)
    preg = F.col("pregnancy_status")
    not_preg = preg.isNull() | (preg == "No")
    sw = F.col("switch_follow_up_date")
    ref = F.col("vp_ref_date")
    cnt = F.col("vp_count").try_cast("double")
    cnt_raw = F.col("vp_count")

    def plus_days(col, n):
        return F.date_add(col, n)

    eligibility = (
        F.when(
            (days_on_art <= 12) & not_preg & sw.isNull() & ref.isNull()
            & cnt_raw.isNull(),
            plus_days(F.col("art_start_date"), 181),
        )
        .when(
            (months_on_art <= 12) & not_preg & sw.isNull() & ref.isNotNull()
            & (cnt_raw.isNull() | (cnt < 1000)),
            plus_days(ref, 181),
        )
        .when(
            (months_on_art > 12) & not_preg & sw.isNull() & ref.isNotNull()
            & (cnt_raw.isNull() | (cnt < 1000)),
            plus_days(ref, 365),
        )
        .when(
            (months_on_art > 12) & not_preg & sw.isNull() & ref.isNull()
            & cnt_raw.isNull(),
            # INTERVAL 365 * TIMESTAMPDIFF(YEAR, art, end) DAY (:152-153)
            F.date_add(F.col("art_start_date"), (F.lit(365) * years_on_art).cast("int")),
        )
        .when(
            (months_on_art <= 12) & (preg == "Yes") & sw.isNull() & ref.isNotNull()
            & (cnt_raw.isNull() | (cnt < 1000)),
            plus_days(ref, 91),
        )
        .when(
            (months_on_art <= 12) & (preg == "Yes") & sw.isNull() & ref.isNull()
            & cnt_raw.isNull(),
            plus_days(F.col("art_start_date"), 91),
        )
        .when(
            (months_on_art > 12) & (preg == "Yes") & sw.isNull() & ref.isNull()
            & cnt_raw.isNull(),
            end,
        )
        .when(
            (months_on_art > 12) & (preg == "Yes") & sw.isNull()
            & (ref.isNotNull() & (ref != F.to_date(F.lit("1900-01-01"))))
            & (cnt_raw.isNull() | (cnt < 1000)),
            end,
        )
        .when(
            (months_on_art > 12) & not_preg & sw.isNull() & ref.isNotNull()
            & (cnt >= 1000),
            plus_days(ref, 121),
        )
        .when(
            (months_on_art <= 12) & not_preg & sw.isNull() & ref.isNotNull()
            & (cnt >= 1000),
            plus_days(ref, 121),
        )
        .when(
            (months_on_art > 12) & sw.isNotNull() & ref.isNotNull()
            & (ref >= sw) & ((cnt < 1000) | cnt_raw.isNull()),
            plus_days(ref, 365),
        )
        .when(
            (months_on_art > 12) & sw.isNotNull() & ref.isNotNull()
            & (ref >= sw) & (cnt >= 1000),
            plus_days(ref, 121),
        )
        .when(
            (months_on_art > 12) & sw.isNotNull() & ref.isNotNull() & (ref < sw),
            plus_days(sw, 181),
        )
        .when(
            (months_on_art > 12) & sw.isNotNull() & ref.isNull(),
            plus_days(sw, 181),
        )
        .when(
            (months_on_art < 12) & sw.isNotNull() & ref.isNotNull()
            & (cnt_raw.isNull() | (cnt < 1000)) & (ref >= sw)
            & ((cnt < 1000) | cnt_raw.isNull()),
            plus_days(ref, 365),
        )
        .when(
            (months_on_art < 12) & sw.isNotNull() & ref.isNotNull()
            & (ref >= sw) & (cnt >= 1000),
            plus_days(ref, 91),
        )
        .when(
            (months_on_art < 12) & sw.isNotNull() & ref.isNotNull()
            & (cnt_raw.isNull() | (cnt < 1000)) & (ref < sw),
            plus_days(sw, 181),
        )
        .when(
            (months_on_art < 12) & sw.isNotNull() & ref.isNull(),
            plus_days(sw, 181),
        )
        # ELSE '' sentinel → NULL (QUERY_PATCHES policy, both engines)
        .otherwise(F.lit(None).cast("date"))
    )

    return (
        h.filter(
            F.col("follow_up_status").isin("Alive", "Restart medication")
            & (F.col("treatment_end_date") >= end)
            & (F.col("art_start_date") <= end)
        )
        .select(
            F.col("sex").alias("Sex"),
            F.col("weight").alias("Weight"),
            complete_years_between(F.col("date_of_birth"), end).alias("age"),
            "date_hiv_confirmed",
            "art_start_date",
            F.col("follow_up_date").alias("FollowUpDate"),
            F.col("pregnancy_status").alias("IsPregnant"),
            F.substring(F.col("regimen"), 1, 2).alias("ARVDispendsedDose"),
            F.col("arv_dispensed_dose").alias("art_dose"),
            "next_visit_date",
            "follow_up_status",
            F.col("treatment_end_date").alias("art_dose_End"),
            F.col("vp_performed_date").alias("viral_load_perform_date"),
            F.col("vp_test_status").alias("viral_load_status"),
            F.col("vp_count").alias("viral_load_count"),
            F.col("VL_Sent_Date").alias("viral_load_sent_date"),
            F.col("vp_ref_date").alias("viral_load_ref_date"),
            F.col("switch_follow_up_date").alias("date_regimen_change"),
            eligibility.alias("eligiblityDate"),
            F.col("patient_uuid").alias("PatientGUID"),
        )
    )


def tx_curr_vl_eligible_new_linelist(
    tables: Mapping[str, DataFrame],
    report_start: dt.date,
    report_end: dt.date,
    follow_up: DataFrame,
) -> DataFrame:
    """Tx_Curr_VLEligibleNew_LineList — the revised VL-eligibility
    algorithm (Tx_Curr_VLEligibleNew_LineList.sql:1-569).

    Dialect pins carried over from the value-checked transpile path:

    - `ELSE '12-31-9999'` in the eligibility CASE → NULL ("never
      eligible"): the DuckDB-pinned reading types the CASE as
      timestamp with that branch unreachable, and NULL is filtered by
      `eligiblityDate <= REPORT_END_DATE` exactly like the sentinel;
    - sentinel comparisons against '1900-01-01 00:00:00.000' become
      date comparisons against 1900-01-01;
    - `ISNULL(x) > CAST(50 AS float)` keeps MySQL's 1-arg ISNULL (0/1)
      — the branch is structurally dead, reproduced literally;
    - `lmp_date + 280` is the intended date-add (SURVEY.md §4.4 F16);
    - 'Restart Medication' (capital M) never matches the lowercase
      warehouse value — case-sensitive comparison policy (§4.7).
    """
    start = F.lit(report_start.isoformat()).cast("date")
    end = F.lit(report_end.isoformat()).cast("date")
    sentinel = F.to_date(F.lit("1900-01-01"))

    fu = follow_up.select(
        "client_id",
        "encounter_id",
        F.col("date_viral_load_results_received").alias("viral_load_perform_date"),
        "follow_up_status",
        F.col("follow_up_date_followup_").alias("follow_up_date"),
        F.col("art_antiretroviral_start_date").alias("art_start_date"),
        "viral_load_test_status",
        F.col("hiv_viral_load").alias("viral_load_count"),
        F.coalesce(
            "at_3436_weeks_of_gestation",
            "viral_load_after_eac_confirmatory_viral_load_where_initial_v",
            "viral_load_after_eac_repeat_viral_load_where_initial_viral_l",
            "every_six_months_until_mtct_ends",
            "six_months_after_the_first_viral_load_test_at_postnatal_peri",
            "three_months_after_delivery",
            "at_the_first_antenatal_care_visit",
            "annual_viral_load_test",
            "second_viral_load_test_at_12_months_post_art",
            "first_viral_load_test_at_6_months_or_longer_post_art",
            "first_viral_load_test_at_3_months_or_longer_post_art",
        ).alias("routine_vl_indication"),
        "pregnancy_status",
        F.col("currently_breastfeeding_child").alias("breastfeeding_status"),
        F.col("antiretroviral_art_dispensed_dose_i").alias("arv_dispensed_dose"),
        "regimen",
        "next_visit_date",
        "treatment_end_date",
        F.col("date_of_event").alias("date_hiv_confirmed"),
        F.col("weight_text_").alias("weight"),
        F.col("date_of_reported_hiv_viral_load").alias("viral_load_sent_date"),
        "regimen_change",
        F.col("date_of_last_menstrual_period_lmp_").alias("lmp_date"),
    )
    fud = F.col("follow_up_date")
    in_window = fud.between(start, end)
    sent = F.col("viral_load_sent_date")
    lookups = fu.groupBy("client_id").agg(
        # all_art_follow_ups (:61-70): latest in-window visit (any status)
        latest_value(
            "follow_up_status", [fud], where=in_window, tiebreak="encounter_id"
        ).alias("aa_follow_up_status"),
        # vl_sent_date (:72-80): latest sent date INSIDE the window
        F.max(F.when(sent.between(start, end), sent)).alias("VL_Sent_Date"),
        # switch_sub_date (:82-90)
        F.max(F.when(in_window & F.col("regimen_change").isNotNull(), fud)).alias(
            "switch_date"
        ),
    )

    # tmp_vl_performed_date_1/2 (:92-106): latest in-window result, or
    # the NULL-result row when the patient has none in window
    vl2 = latest_per_key(
        fu.filter(
            F.col("art_start_date").isNotNull()
            & (
                (
                    F.col("viral_load_perform_date").isNotNull()
                    & (F.col("viral_load_perform_date") >= start)
                    & (F.col("viral_load_perform_date") <= end)
                )
                | F.col("viral_load_perform_date").isNull()
            )
        ),
        keys=["client_id"],
        order_by=["viral_load_perform_date"],
        tiebreak="encounter_id",
    )

    # tmp_vl_performed_date_3 (:108-165): send-date-masked result view
    perf = F.col("viral_load_perform_date")
    sent_c = F.col("VL_Sent_Date")
    cnt_raw = F.col("viral_load_count")
    cnt = cnt_raw.try_cast("double")
    isnull_cnt = F.when(cnt_raw.isNull(), 1).otherwise(0)
    status = F.col("viral_load_test_status")
    inferred = (
        F.when(status.isNull() & (perf >= sent_c), F.lit(None).cast("string"))
        .when(
            (perf >= sent_c)
            & (
                status.like("Det%")
                | status.like("Uns%")
                | status.like("High VL%")
                | status.like("Low Level Viremia%")
            ),
            "U",
        )
        .when((perf >= sent_c) & (status.like("Su%") | status.like("Undet%")), "S")
        .when((perf >= sent_c) & (isnull_cnt > F.lit(50.0)), "U")
        .when((perf >= sent_c) & (isnull_cnt <= F.lit(50.0)), "S")
    )
    vlperf = (
        vl2.join(lookups.select("client_id", "VL_Sent_Date"), on="client_id", how="left")
        .select(
            "client_id",
            F.when(perf < sent_c, F.lit(None).cast("date"))
            .otherwise(perf)
            .alias("vp_masked_perform_date"),
            F.when(perf < sent_c, F.lit(None).cast("string"))
            .otherwise(status)
            .alias("vp_masked_status"),
            F.when((cnt > 0) & (perf >= sent_c), cnt_raw.cast("decimal(12,2)"))
            .alias("vp_count"),
            inferred.alias("vp_status_inferred"),
            F.coalesce(sent_c, perf).alias("vp_ref_date"),
            F.col("routine_vl_indication").alias("vp_routine_indication"),
        )
    )

    # latest_alive_restart (:166-174)
    latest_ar = latest_per_key(
        fu.filter(in_window & F.col("follow_up_status").isin("Alive", "Restart medication")),
        keys=["client_id"],
        order_by=["follow_up_date"],
        tiebreak="encounter_id",
    )

    client = tables["mamba_dim_client"]
    h = (
        latest_ar.join(
            client.select(
                "client_id",
                "patient_uuid",
                "patient_name",
                "mobile_no",
                "mrn",
                "sex",
                "current_age",
                "date_of_birth",
            ),
            on="client_id",
            how="left",
        )
        .join(vlperf, on="client_id", how="left")
        .join(lookups, on="client_id", how="left")
        .filter(
            F.col("aa_follow_up_status").isin("Alive", "Restart Medication")
            & (F.datediff(start, F.col("art_start_date")) >= 0)
        )
    )

    ref = F.col("vp_ref_date")
    refp = F.col("vp_masked_perform_date")
    sw = F.col("switch_date")
    preg = F.col("pregnancy_status")
    bf = F.col("breastfeeding_status")
    vcnt_raw = F.col("vp_count")
    vcnt = F.col("vp_count").cast("double")
    art = F.col("art_start_date")
    lmp = F.col("lmp_date")
    months_on_art = complete_months_between(art, end)
    days_on_art = F.datediff(end, art)
    not_preg = preg.isNull() | (preg == "No")
    not_bf = bf.isNull() | (bf == "No")
    no_switch = sw.isNull() | (sw == sentinel)
    _EAC_6M = "First viral load test at 6 months or longer post ART"
    _EAC_REP = (
        "Viral load after EAC: repeat viral load where initial viral load "
        "greater than 50 and less than 1000 copies per ml"
    )
    _EAC_CONF = (
        "Viral load after EAC: confirmatory viral load where initial viral "
        "load greater than 1000 copies per ml"
    )

    eligibility = (
        F.when(ref.isNull() & (F.col("follow_up_status") == "Restart medication"), F.date_add(fud, 91))
        .when(ref.isNull() & sw.isNotNull(), F.date_add(sw, 181))
        .when(ref.isNull() & (preg == "Yes") & (F.datediff(end, art) > 90), F.date_add(art, 91))
        .when(ref.isNull() & (days_on_art <= 180), F.lit(None).cast("date"))
        .when(ref.isNull() & (days_on_art > 180), F.date_add(art, 181))
        .when(
            ref.isNotNull() & (ref < fud)
            & (F.col("follow_up_status") == "Restart medication"),
            F.date_add(fud, 91),
        )
        .when(ref.isNotNull() & (ref < sw) & sw.isNotNull(), F.date_add(sw, 181))
        .when(ref.isNotNull() & (F.col("vp_status_inferred") == "U"), F.date_add(ref, 91))
        .when(
            ref.isNotNull()
            & ((preg == "Yes") | (bf == "Yes"))
            & F.col("vp_routine_indication").isin(_EAC_6M, _EAC_REP, _EAC_CONF),
            F.date_add(ref, 91),
        )
        .when(
            ref.isNotNull()
            & ((preg == "Yes") | (bf == "Yes"))
            & F.col("vp_routine_indication").isNotNull()
            & ~F.col("vp_routine_indication").isin(_EAC_6M, _EAC_REP, _EAC_CONF),
            F.date_add(ref, 181),
        )
        .when(ref.isNotNull(), F.date_add(ref, 365))
        # ELSE '12-31-9999' sentinel → NULL (filtered like "never")
        .otherwise(F.lit(None).cast("date"))
    )

    vl_status_final = (
        F.when(ref.isNull() & (F.col("follow_up_status") == "Restart medication"), "client restarted ART")
        .when(ref.isNull() & sw.isNotNull(), "Regimen Change")
        .when(ref.isNull() & (preg == "Yes") & (F.datediff(end, art) > 90), "First VL for Pregnant")
        .when(ref.isNull() & (days_on_art <= 180), "N/A")
        .when(ref.isNull() & (days_on_art > 180), "First VL")
        .when(
            ref.isNotNull() & (ref < fud)
            & (F.col("follow_up_status") == "Restart medication"),
            "client restarted ART",
        )
        .when(ref.isNotNull() & (ref < sw) & sw.isNotNull(), "Regimen Change")
        .when(
            ref.isNotNull() & (F.col("vp_status_inferred") == "U"),
            "Repeat/Confirmatory Viral Load test",
        )
        .when(
            F.col("vp_status_inferred").isNotNull()
            & ((preg == "Yes") | (bf == "Yes")),
            "Pregnant/Breastfeeding and needs retesting",
        )
        .when(ref.isNotNull(), "Annual Viral Load Test")
        .otherwise("Unassigned")
    )

    out = (
        h.withColumn("eligiblityDate", eligibility)
        .withColumn("vl_status_final", vl_status_final)
        .filter(F.col("eligiblityDate") <= end)
    )
    return out.select(
        F.when(F.col("sex") == "FEMALE", "F")
        .when(F.col("sex") == "MALE", "M")
        .alias("Sex"),
        F.col("weight").alias("Weight"),
        # Age anchors to the report START here (:535), unlike siblings
        complete_years_between(F.col("date_of_birth"), start).alias("Age"),
        "date_hiv_confirmed",
        "art_start_date",
        F.col("follow_up_date").alias("FollowUpDate"),
        F.col("pregnancy_status").alias("IsPregnant"),
        F.col("regimen").alias("ARVDispendsedDose"),
        F.col("arv_dispensed_dose").alias("ARTDoseDays"),
        "next_visit_date",
        # the OUTPUT status is the latest in-window visit of ANY status
        # (all_art_follow_ups.follow_up_status, :179) — NOT f_case's
        # Alive/Restart-medication row, which can differ when the very
        # latest visit carries e.g. 'Restart Medication' (capital M,
        # outside latest_alive_restart's lowercase-m filter but inside
        # the output filter's list); the eligibility/vl_status CASEs
        # above keep using f_case's status like the reference does
        F.col("aa_follow_up_status").alias("follow_up_status"),
        F.col("treatment_end_date").alias("art_dose_End"),
        F.col("vp_masked_perform_date").alias("viral_load_perform_date"),
        F.col("vp_masked_status").alias("viral_load_status"),
        F.col("vp_count").alias("viral_load_count"),
        F.col("VL_Sent_Date").alias("viral_load_sent_date"),
        F.coalesce("VL_Sent_Date", "vp_masked_perform_date").alias(
            "viral_load_ref_date"
        ),
        F.col("switch_date").alias("date_regimen_change"),
        "eligiblityDate",
        F.col("patient_uuid").alias("PatientGUID"),
        F.col("breastfeeding_status").alias("IsBreastfeeding"),
        "vl_status_final",
        F.when(F.col("pregnancy_status") == "Yes", "Yes")
        .when(F.col("breastfeeding_status") == "Yes", "Yes")
        .otherwise("No")
        .alias("PMTCT_ART"),
    )


def tx_curr_cca_new_linelist(
    tables: Mapping[str, DataFrame],
    report_start: dt.date,
    report_end: dt.date,
    follow_up: DataFrame,
) -> DataFrame:
    """Tx_Curr_CCANew_LineList — cervical-cancer screening cascade, new
    format (Tx_Curr_CCANew_LineList.sql:1-530).

    Two symmetric per-client "screening episode" snapshots — the latest
    'Cervical cancer screening performed' visit BEFORE the report start
    (prev) and INSIDE the window (curr) — each a W1 dedup that keeps
    the whole visit row, then a tx_curr-gated assembly over dim_client
    with the eligibility ladder. All joins/dedups key on client_id.
    """
    start = F.lit(report_start.isoformat()).cast("date")
    end = F.lit(report_end.isoformat()).cast("date")

    fu = follow_up.select(
        "encounter_id",
        "client_id",
        F.col("follow_up_date_followup_").alias("follow_up_date"),
        "follow_up_status",
        F.col("treatment_end_date").alias("art_end_date"),
        "hpv_dna_result_received_date",
        "date_cytology_result_received",
        F.col("next_follow_up_screening_date").alias("ccs_next_date"),
        F.col("cervical_cancer_screening_status").alias("screening_status"),
        F.col("hpv_dna_screening_result").alias("ccs_hpv_result"),
        "cytology_result",
        F.col("via_screening_result").alias("ccs_via_result"),
        F.col("date_visual_inspection_of_the_cervi").alias("date_via_result"),
        F.col("treatment_start_date").alias("ccs_treat_received_date"),
        F.col("colposcopy_of_cervix_findings").alias("colposcopy_exam_finding"),
        "colposcopy_exam_date",
        F.col("purpose_for_visit_cervical_screening").alias("screening_type"),
        F.col("cervical_cancer_screening_method_strategy").alias("screening_method"),
        "hpv_subtype",
        "date_hpv_test_was_done",
        "cytology_sample_collection_date",
        "biopsy_sample_collected_date",
        "biopsy_result_received_date",
        "biopsy_result",
        F.col("treatment_of_precancerous_lesions_of_the_cervix").alias(
            "ccs_precancerous_treat"
        ),
        "confirmed_cervical_cancer_cases_bas",
        "referral_or_linkage_status",
        "reason_for_referral_cacx",
        "date_client_served_in_the_referred_",
        "date_client_arrived_in_the_referred",
        "date_patient_referred_out",
        F.col("weight_text_").alias("weight"),
        F.col("art_antiretroviral_start_date").alias("art_start_date"),
        "next_visit_date",
        "regimen",
        F.col("antiretroviral_art_dispensed_dose_i").alias("dose_days"),
        F.col("pre_test_counselling_for_cervical_c").alias("cca_counselling_given"),
        F.col("ready_for_cervical_cancer_screening").alias("accepted"),
    )

    _VIA_POS_ELIG = "VIA positive: eligible for cryo/thermo-coagula"
    _VIA_POS_NON = "VIA positive: non-eligible for cryo/thermo-coagula"
    _HPV = "Human Papillomavirus test"
    _VIA = "Visual Inspection of the Cervix with Acetic Acid (VIA)"
    _ASCUS = (
        "ASCUS (Atypical Squamous Cells of Undetermined Significance) on Pap Smear"
    )

    def episode(base: DataFrame) -> DataFrame:
        """Latest screening-performed visit of ``base``, the whole
        visit row (:61-68 / :215-225)."""
        return latest_per_key(
            base.filter(F.col("screening_status") == "Cervical cancer screening performed"),
            keys=["client_id"],
            order_by=["follow_up_date"],
            tiebreak="encounter_id",
        )

    def screen_done_date():
        # identical CASE in both branches (:98-113 / :228-243)
        return (
            F.when(F.col("colposcopy_exam_date").isNotNull(), F.col("colposcopy_exam_date"))
            .when(
                F.col("date_cytology_result_received").isNotNull(),
                F.col("date_cytology_result_received"),
            )
            .when(F.col("date_via_result").isNotNull(), F.col("date_via_result"))
            .when(
                F.col("hpv_dna_result_received_date").isNotNull()
                & (F.col("ccs_hpv_result") == "Negative result"),
                F.col("hpv_dna_result_received_date"),
            )
            .when(
                F.col("follow_up_date").isNotNull()
                & (F.col("screening_status") == "Cervical cancer screening performed"),
                F.col("follow_up_date"),
            )
        )

    def screen_result(cyt_positive_method: str, cyt_pos_colpo_vals: list):
        via, cyt, colpo, hpv = (
            F.col("ccs_via_result"),
            F.col("cytology_result"),
            F.col("colposcopy_exam_finding"),
            F.col("ccs_hpv_result"),
        )
        m = F.col("screening_method")
        cyt_pos_colpo = colpo.isNull() | colpo.isin(
            [v for v in cyt_pos_colpo_vals if v is not None]
        )
        return (
            F.when(
                (m == _HPV) & via.isNull() & cyt.isNull() & colpo.isNull(),
                "HPV_Positive-Requires VIA Triage",
            )
            .when(
                (m == _HPV)
                & (
                    (via == _VIA_POS_ELIG)
                    | (via == _VIA_POS_NON)
                    | (
                        (via.isNull() | (via == "Unknown"))
                        & (cyt == "> Ascus")
                        & ((colpo == "Low Grade") | (colpo == "High Grade"))
                    )
                ),
                "HPV_Positive",
            )
            .when((m == _VIA) & ((via == _VIA_POS_ELIG) | (via == _VIA_POS_NON)), "VIA_Positive")
            .when(
                (m == cyt_positive_method) & (cyt == "> Ascus") & cyt_pos_colpo,
                "CYT_Positive",
            )
            .when(
                (m == _HPV)
                & (
                    (hpv == "Positive")
                    & (
                        (via == "VIA negative")
                        | (
                            (via.isNull() | (via == "Unknown"))
                            & (
                                (colpo == "Normal")
                                | ((cyt == "Negative result") | (cyt == _ASCUS))
                            )
                        )
                    )
                ),
                "HPV_Negative",
            )
            .when((m == _HPV) & (hpv == "Negative result"), "HPV_Negative")
            .when((m == _VIA) & (via == "VIA negative"), "VIA_Negative")
            .when(
                ((m == "Cytology") & ((cyt == "Negative result") | (cyt == _ASCUS)))
                | ((cyt == "> Ascus") & (colpo == "Normal")),
                "CYT_Negative",
            )
            .when(via == _VIA_POS_NON, "VIA_Suspected")
        )

    _shared = [
        ("screening_type", "Screen_Type"),
        ("screening_method", "Screen_Method"),
        ("hpv_subtype", "HPV_SubType"),
        ("date_hpv_test_was_done", "HPV_DAN_SampleCollected_Date"),
        ("hpv_dna_result_received_date", "HPV_DAN_ResultReceived_Date"),
        ("ccs_hpv_result", "HPV_Result"),
        ("date_via_result", "VIA_Screening_Date"),
        ("ccs_via_result", "VIA_Screening_Result"),
        ("cytology_sample_collection_date", "Cytology_SampleCollected_Date"),
        ("date_cytology_result_received", "Cytology_ResultReceived_Date"),
        ("cytology_result", "Cytology_Result"),
        ("colposcopy_exam_date", "Colposcopy_Exam_Date"),
        ("colposcopy_exam_finding", "Colposcopy_Exam_Result"),
        ("biopsy_sample_collected_date", "Biopsy_SampleCollected_Date"),
        ("biopsy_result_received_date", "Biopsy_ResultReceived_Date"),
        ("biopsy_result", "Biopsy_Result"),
        ("ccs_precancerous_treat", "TX_Received_for_PrecancerousLesion"),
        ("confirmed_cervical_cancer_cases_bas", "TX_for_ConfirmedCxCaBasedOn_Biopsy"),
        ("ccs_treat_received_date", "Date_TX_Given"),
        ("referral_or_linkage_status", "ReferralStatus"),
        ("reason_for_referral_cacx", "Reason_for_Referral"),
        ("date_patient_referred_out", "Date_Referred_to_OtherHF"),
        ("date_client_arrived_in_the_referred", "Date_Client_Arrived_in_RefferedHF"),
        ("date_client_served_in_the_referred_", "Date_Client_Served_in_RefferedHF"),
    ]

    # prev_cxca (:61-213): the re-screening status ladder
    prev_status = (
        F.when(
            (F.datediff(end, F.col("hpv_dna_result_received_date")) > 1095)
            & (F.col("ccs_hpv_result") == "Negative result"),
            "Need Re-Screening",
        )
        .when(
            (F.datediff(end, F.col("date_via_result")) > 730)
            & (F.col("ccs_via_result") == "VIA negative"),
            "Need Re-Screening",
        )
        .when(
            (F.datediff(end, F.col("date_cytology_result_received")) > 1095)
            & (F.col("cytology_result") == "Negative result"),
            "Need Re-Screening",
        )
        .when(
            F.col("ccs_treat_received_date").isNull()
            & (
                (F.col("colposcopy_exam_finding") == "High Grade")
                | (F.col("colposcopy_exam_finding") == "Low Grade")
                | (F.col("cytology_result") == "> Ascus")
                | (F.col("ccs_via_result") == _VIA_POS_ELIG)
                | (F.col("ccs_via_result") == "VIA Positive: Non-Eligible for")
            ),
            "Need Re-Screening",
        )
        .when(
            (F.datediff(end, F.col("ccs_treat_received_date")) > 181)
            & F.col("ccs_treat_received_date").isNotNull(),
            "Need Post Tx FU Screening",
        )
        .when(
            (F.datediff(end, F.col("hpv_dna_result_received_date")) > 356)
            & (F.col("ccs_hpv_result") == "Positive")
            & (F.col("ccs_via_result") == "VIA negative"),
            "Need Re-Screening",
        )
        .when(
            (F.col("ccs_next_date") <= end) & F.col("ccs_next_date").isNotNull(),
            "Need Re-Screening",
        )
    )
    prev = episode(fu.filter(F.col("follow_up_date") <= start)).select(
        "client_id",
        prev_status.alias("PrevCxCaStatus"),
        screen_done_date().alias("Prev_CSS_Screen_Done_Date_Calculated"),
        *[F.col(src).alias(f"Prev_{out}") for src, out in _shared],
        F.col("ccs_next_date").alias("prev_ccs_next_date"),
        F.col("screening_status").alias("prev_screening_status"),
        screen_result(
            "Post-treatment follow-up at 1 year", [None, "Low Grade", "High Grade"]
        ).alias("Prev_CCS_Screen_Result"),
    )

    # curr_cxca (:215-349)
    curr = episode(
        fu.filter(
            (F.col("follow_up_date") >= start) & (F.col("follow_up_date") <= end)
        )
    ).select(
        "client_id",
        screen_done_date().alias("Curr_CSS_Screen_Done_Date_Calculated"),
        *[F.col(src).alias(f"Curr_{out}") for src, out in _shared],
        F.col("ccs_next_date").alias("curr_ccs_next_date"),
        F.when(
            (F.col("cca_counselling_given") == "Yes")
            & F.col("follow_up_date").between(start, end),
            "Yes",
        )
        .otherwise("No")
        .alias("Counselled"),
        F.col("accepted").alias("curr_accepted"),
        screen_result("Cytology", [None, "Low Grade", "2"]).alias(
            "Curr_CCS_Screen_Result"
        ),
    )

    # tx_curr (:351-365)
    tx = latest_per_key(
        fu.filter(F.col("follow_up_date") <= end),
        ["client_id"],
        ["follow_up_date"],
        tiebreak="encounter_id",
    ).filter(
        F.col("follow_up_status").isin("Alive", "Restart medication")
        & (F.col("art_end_date") >= end)
    )

    client = tables["mamba_dim_client"]
    age = complete_years_between(F.col("date_of_birth"), end)
    h = (
        tx.join(
            client.select("client_id", "patient_uuid", "mrn", "sex", "date_of_birth"),
            on="client_id",
            how="left",
        )
        .join(prev, on="client_id", how="left")
        .join(curr, on="client_id", how="left")
        .filter(
            age.between(15, 100)
            & (F.col("sex") == "FEMALE")
            & (F.col("follow_up_date") < end)
            & F.col("art_start_date").isNotNull()
        )
    )

    eligibility = (
        F.when(
            F.col("PrevCxCaStatus").isNull() & F.col("prev_screening_status").isNull(),
            "Never Screened",
        )
        .when(
            F.col("PrevCxCaStatus").isNull()
            & (
                F.col("prev_ccs_next_date").isNull()
                | (F.col("prev_ccs_next_date") > end)
            ),
            "Not Eligible",
        )
        .otherwise(F.col("PrevCxCaStatus"))
    )

    out = h.withColumn("EligibilityReason", eligibility).filter(
        (F.col("EligibilityReason") != "Not Eligible") | (F.col("Counselled") == "Yes")
    )
    return out.select(
        F.when(F.col("sex") == "FEMALE", "F")
        .when(F.col("sex") == "MALE", "M")
        .alias("Sex"),
        F.col("weight").alias("Weight"),
        age.alias("Age"),
        F.col("follow_up_date").alias("FollowUpDate"),
        F.col("art_start_date").alias("ArtStartDate"),
        F.col("follow_up_status").alias("FollowUpStatus"),
        "next_visit_date",
        F.substring(F.col("regimen"), 1, 2).alias("ARVRegimen"),
        F.substring(F.col("regimen"), 1, 1).alias("RegimenLine"),
        F.col("dose_days").alias("ARTDoseDays"),
        "Prev_CSS_Screen_Done_Date_Calculated",
        F.col("prev_ccs_next_date").alias("Prev_AppointmentDate_4_CCS"),
        "EligibilityReason",
        *[f"Prev_{out_name}" for _, out_name in _shared],
        "Prev_CCS_Screen_Result",
        F.when(F.col("follow_up_date").between(start, end), "Yes")
        .otherwise("No")
        .alias("Seen"),
        "Curr_CSS_Screen_Done_Date_Calculated",
        "Counselled",
        F.col("curr_accepted").alias("Accepted"),
        *[f"Curr_{out_name}" for _, out_name in _shared],
        "Curr_CCS_Screen_Result",
        F.col("curr_ccs_next_date").alias("Next_AppointmentDate_4_CCS"),
        F.col("patient_uuid").alias("PatientGUID"),
    )


def _pmtct_hei(
    tables: Mapping[str, DataFrame],
    report_start: dt.date,
    report_end: dt.date,
    follow_up: DataFrame | None = None,
) -> DataFrame:
    # HEI builds from its own encounter tables, never the wide view
    return pmtct_hei_linelist(tables, report_start, report_end)


#: report name → builder, in the reference's config order
#: (export_config.json). Every entry is callable as
#: ``fn(tables, start, end, follow_up=wide)``.
LINELISTS: dict[str, Callable[..., DataFrame]] = {
    "Tx_Curr_LineList": tx_curr_linelist,
    "Tx_Curr_VLTestReceived_LineList": tx_curr_vl_received_linelist,
    "Tx_Curr_AHD_LineList": tx_curr_ahd_linelist,
    "Tx_Curr_HVL_LineList": tx_curr_hvl_linelist,
    "Tx_Curr_VLEligibleNew_LineList": tx_curr_vl_eligible_new_linelist,
    "Tx_Curr_TPT_LineList": tx_curr_tpt_linelist,
    "Tx_Curr_OutComeList": tx_curr_outcome,
    "Tx_Curr_CCANew_LineList": tx_curr_cca_new_linelist,
    "Tx_Curr_CCA_LineList": tx_curr_cca_linelist,
    "Tx_Curr_VLEligible_LineList": tx_curr_vl_eligible_linelist,
    "PMTCT_Maternal_LineList": pmtct_maternal_linelist,
    "PMTCT_HEI_LineList": _pmtct_hei,
}
