"""The reference's core telemetry chain re-expressed Spark-first:

  mango_events (sql/mango_events.sql: ping scan + daily filter)
  → mango_events_unnested (sql/mango_events_unnested.sql: UNNEST(events)
    + D1 positional parse + D2/D3 cleanup)
  → mango_events_feature_mapping (sql/mango_events_feature_mapping.sql:
    kv extraction + LEFT JOIN UNNEST extra + D4 rule engine + 3-way
    feature/vertical/app fan-out)

The synthetic ``events`` table lacks telemetry ping structure, so
:func:`synthesize_pings` derives a deterministic ping stream from it
(vocabulary chosen to exercise the D4 rule-sets).  Everything after that
is the faithful operator chain; at 100 TB the chain is shuffle-free until
the final rollup (parse/explode/mapping are all map-side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taipei_bi_etl_spark import functions as FN

from taipei_bi_etl_spark.feature_mapping import feature_mapping_nolambda
from taipei_bi_etl_spark.functions import kv_get
from taipei_bi_etl_spark.io import read_table
from taipei_bi_etl_spark.udfs import cleanup_extra, json_extract_events

_METHODS = ["click", "open", "change", "launch", "show", "type_query", "end", "share"]
_OBJECTS = ["tab", "panel", "home", "search_bar", "content_tab", "toolbar", "app", "setting"]
_VALUES = ["link", "history", "lifefeed_ec", "tab_swipe", "share", "bookmark", "download", ""]
_VERTICALS = ["all", "shopping", "lifestyle", "game", "travel", ""]
_SOURCES = ["bukalapak", "google", "dailyhunt", "zzz"]


def synthesize_pings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a telemetry-ping-shaped stream from the synthetic events
    table: one ping per event with a positional-JSON events payload
    (the shape udf_js/json_extract_events.sql parses)."""
    ev = read_table(spark, sf_dir, "events")

    def pick(vocab: list[str], salt: int) -> F.Column:
        arr = F.array(*[F.lit(x) for x in vocab])
        return F.element_at(arr, (F.pmod(F.col("event_id") + salt, F.lit(len(vocab))) + 1).cast("int"))

    payload = F.concat(
        F.lit('[['), FN.unix_ms(F.col("ts")).cast("string"),
        F.lit(',"action","'), pick(_METHODS, 1),
        F.lit('","'), pick(_OBJECTS, 3),
        F.lit('","'), pick(_VALUES, 5),
        F.lit('",{"vertical":"'), pick(_VERTICALS, 7),
        F.lit('","source":"'), pick(_SOURCES, 11),
        F.lit('"}]]'),
    )
    return ev.select(
        F.col("user_id").alias("client_id"),
        F.col("ts").alias("submission_timestamp"),
        F.to_date("ts").alias("submission_date"),
        payload.alias("events_json"),
        F.array(
            F.struct(F.lit("Pref_Search_Engine").alias("key"), F.lit("google").alias("value"))
        ).alias("settings"),
    )


def unnest_events(pings: DataFrame) -> DataFrame:
    """mango_events_unnested: positional parse (D1) + per-event explode +
    extra cleanup (D2).  Pure map-side — no shuffle."""
    parsed = pings.withColumn("event", F.explode(json_extract_events("events_json")))
    return parsed.select(
        "client_id",
        "submission_timestamp",
        "submission_date",
        "settings",
        F.col("event.event_timestamp").alias("event_timestamp"),
        F.col("event.event_category").alias("event_category"),
        F.col("event.event_method").alias("event_method"),
        F.col("event.event_object").alias("event_object"),
        F.col("event.event_value").alias("event_value"),
        cleanup_extra(F.col("event.event_extra")).alias("event_extra"),
    )


def map_features(unnested: DataFrame) -> DataFrame:
    """mango_events_feature_mapping: kv extraction (A6), LEFT JOIN UNNEST
    of event_extra (J8/explode_outer), D4 rule cascade, then the 3-way
    feature/vertical/app fan-out (U1) as a single-pass explode."""
    enriched = unnested.select(
        "*",
        F.coalesce(kv_get("event_extra", "vertical"), F.lit("")).alias("event_vertical"),
        F.coalesce(F.lower(kv_get("settings", "pref_search_engine")), F.lit("")).alias(
            "settings_search_engine"
        ),
    )
    flat = enriched.select(
        "*",
        F.explode_outer("event_extra").alias("extra"),
    ).select(
        "*",
        F.coalesce(F.lower(F.col("extra.key")), F.lit("")).alias("extra_key"),
        F.coalesce(F.lower(F.col("extra.value")), F.lit("")).alias("extra_value"),
    )
    # r07 (VERDICT r06 #1): the LAMBDA-FREE compile — array_compact's
    # filter-lambda rewrite is CodegenFallback and excluded the cascade
    # pick from whole-stage codegen; measured 9.45 -> 7.77 s median on
    # the full rollup at sf0.1 (interleaved, SCALE.md r07 section)
    mapped = feature_mapping_nolambda(flat, out="map")
    # 3-way fan-out: Feature rows (one per mapped feature) ∪ Vertical ∪ App,
    # expressed as one explode over a built array instead of 3 passes
    # (SURVEY §2.7 U1 preferred form).
    fan = F.concat(
        F.transform(
            F.col("map.feature"),
            lambda x: F.struct(F.lit("Feature").alias("feature_type"), x.alias("feature_name")),
        ),
        F.array(
            F.struct(F.lit("Vertical").alias("feature_type"), F.col("map.vertical").alias("feature_name")),
            F.struct(F.lit("App").alias("feature_type"), F.col("map.app").alias("feature_name")),
        ),
    )
    return mapped.select(
        "client_id", "submission_timestamp", "submission_date",
        "event_method", "event_object", "event_value",
        "extra_key", "extra_value", "event_vertical",
        F.explode(fan).alias("f"),
    ).select(
        "client_id", "submission_timestamp", "submission_date",
        "event_method", "event_object", "event_value",
        "extra_key", "extra_value", "event_vertical",
        F.col("f.feature_type").alias("feature_type"),
        F.col("f.feature_name").alias("feature_name"),
    )


# ---------------------------------------------------------------------------
# Full-surface synthesizers for the 18-task mango DAG (plans/mango_dag.py).
# Deterministic modular arithmetic over event_id/user_id throughout, so
# every derived table has a closed-form DuckDB twin.  The compact
# synthesize_pings above keeps feeding the r01 fan-out query unchanged.
# ---------------------------------------------------------------------------

_OSES = ["Android", "iOS"]
_COUNTRIES = ["ID", "IN", "TW", "TH", "VN"]
# methods/objects extended with the start/end + process vocabulary the
# vertical sessionizer keys on (sql/mango_user_rfe_daily_session.sql:64-89)
_METHODS_FULL = ["click", "open", "start", "end", "show", "type_query", "change", "share"]
_OBJECTS_FULL = ["tab", "panel", "process", "search_bar", "content_tab", "toolbar", "app", "setting"]
# tracker tokens: one per alt-key arm of the user_channels 5-way union
# (network/campaign/adgroup/creative), one unmatched, one absent
_TRACKER_TOKENS = ["nt1", "ct2", "at3", "crt4", "zzz-unmatched", None]
_ENTRYPOINTS = ["google-home", "google-search", "ddg-search", "partner-feed"]


def os_of(client_id) -> F.Column:
    arr = F.array(*[F.lit(x) for x in _OSES])
    return F.element_at(arr, (F.pmod(client_id, F.lit(len(_OSES))) + 1).cast("int"))


def country_of(client_id) -> F.Column:
    arr = F.array(*[F.lit(x) for x in _COUNTRIES])
    return F.element_at(
        arr, (F.pmod(client_id, F.lit(len(_COUNTRIES))) + 1).cast("int")
    )


def synthesize_full_pings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mango_events-shaped ping stream for the full DAG: the
    compact synthesizer's payload plus (a) per-ping os/country, (b) a
    settings array carrying the attribution keys `mango_user_channels`
    reads (pref_key_s_tracker_token / install_referrer —
    sql/mango_user_channels.sql:5-7), and (c) event_extra entries
    feeding the RFE session rollup (session_time / url_counts /
    app_link / show_keyboard —
    sql/mango_events_feature_mapping.sql:17-21).

    The scan is widened (scale.widen_scan) BEFORE the synthesis
    expressions: the whole parse → unnest → D4-cascade chain is
    map-side until the consumer's first aggregate, so an unsplittable
    single-file input would otherwise run it on one core (measured
    2× the whole rollup's cost at sf0.1 — SCALE.md r10)."""
    from taipei_bi_etl_spark.scale import widen_scan

    return full_pings_from(widen_scan(read_table(spark, sf_dir, "events")))


#: Compiled-expression memo (r11, VERDICT r10 #3 — the established
#: _NOLAMBDA_MEMO pattern): the full-ping synthesis battery (payload
#: concat, settings array, os/country picks) references only the FIXED
#: input column names (event_id, ts, user_id), so there is no binding
#: variance and the memo needs no key.  Values are immutable Column
#: trees — COMPILED EXPRESSIONS only, no data, no results, no
#: DataFrames; every query still computes from the parquet inputs on
#: every run.  Measured ~0.38 s of py4j construction per call, paid 3×
#: per deep mango snapshot (fm + user_channels + rfe active-days) and
#: once by every other mango-family query.
_FULL_PINGS_EXPR_MEMO: list[F.Column] = []


def full_pings_from(ev: DataFrame) -> DataFrame:
    """Frame form of :func:`synthesize_full_pings` — works on ANY
    events frame incl. a STREAMING one (every expression is stateless
    map-side, so the whole ping synthesis + unnest + mapping chain runs
    unchanged under Structured Streaming)."""
    if not _FULL_PINGS_EXPR_MEMO:
        exprs = _full_pings_exprs()
        # build fully, publish with ONE mutation (r10 review rule: a
        # partial publish under an interrupt would poison every later
        # caller; the emptiness guard never rebuilds)
        _FULL_PINGS_EXPR_MEMO.extend(exprs)
    return ev.select(*_FULL_PINGS_EXPR_MEMO)


def _full_pings_exprs() -> list[F.Column]:
    # DECORRELATED picks: each field indexes a different "digit" of
    # event_id (divisor stride), so (method, object, value, …) span the
    # full product space — same-modulus picks would lock the pairs 1:1
    # and the (start|end, process) rows the vertical sessionizer keys
    # on would never occur.  Still closed-form for the DuckDB twins.
    def pick(vocab, salt: int, stride: int = 1) -> F.Column:
        arr = F.array(*[F.lit(x) for x in vocab])
        idx = F.floor(F.col("event_id") / stride) + salt
        return F.element_at(
            arr, (F.pmod(idx, F.lit(len(vocab))) + 1).cast("int")
        )

    # conditional extra fragments, all deterministic in event_id
    session_extra = F.when(
        F.pmod(F.col("event_id"), F.lit(3)) == 0,
        F.concat(
            F.lit(',"session_time":"'),
            (F.pmod(F.col("event_id") * 37, F.lit(200_000))).cast("string"),
            F.lit('","url_counts":"'),
            (F.pmod(F.col("event_id"), F.lit(7))).cast("string"),
            F.lit('"'),
        ),
    ).otherwise(F.lit(""))
    app_link_extra = F.when(
        F.pmod(F.col("event_id"), F.lit(11)) == 0,
        F.lit(',"app_link":"install"'),
    ).when(
        F.pmod(F.col("event_id"), F.lit(11)) == 1,
        F.lit(',"app_link":"open"'),
    ).otherwise(F.lit(""))
    keyboard_extra = F.when(
        F.pmod(F.col("event_id"), F.lit(13)) == 0,
        F.lit(',"show_keyboard":"true"'),
    ).otherwise(F.lit(""))
    payload = F.concat(
        F.lit('[['), FN.unix_ms(F.col("ts")).cast("string"),
        F.lit(',"action","'), pick(_METHODS_FULL, 1, 1),
        F.lit('","'), pick(_OBJECTS_FULL, 3, 8),
        F.lit('","'), pick(_VALUES, 5, 64),
        F.lit('",{"vertical":"'), pick(_VERTICALS, 7, 5),
        F.lit('","source":"'), pick(_SOURCES, 11, 7),
        F.lit('"'),
        session_extra,
        app_link_extra,
        keyboard_extra,
        F.lit('}]]'),
    )
    tracker = F.element_at(
        F.array(*[F.lit(t) for t in _TRACKER_TOKENS]),
        (F.pmod(F.col("user_id"), F.lit(len(_TRACKER_TOKENS))) + 1).cast("int"),
    )
    settings = F.filter(
        F.array(
            F.struct(
                F.lit("pref_search_engine").alias("key"),
                F.lit("google").alias("value"),
            ),
            F.struct(
                F.lit("pref_key_s_tracker_token").alias("key"),
                tracker.alias("value"),
            ),
            F.struct(
                F.lit("install_referrer").alias("key"),
                F.concat(F.lit("ref-"), F.pmod(F.col("user_id"), F.lit(4)).cast("string")).alias("value"),
            ),
        ),
        lambda s: s["value"].isNotNull(),
    )
    return [
        F.col("user_id").alias("client_id"),
        F.col("ts").alias("submission_timestamp"),
        F.to_date("ts").alias("submission_date"),
        os_of(F.col("user_id")).alias("os"),
        country_of(F.col("user_id")).alias("country"),
        payload.alias("events_json"),
        settings.alias("settings"),
    ]


def structured_pings_from(ev: DataFrame) -> DataFrame:
    """The parquet-native fast path: the SAME ping stream as
    :func:`full_pings_from` but with ``events`` already an
    ``ARRAY<STRUCT<...>>`` — the shape a telemetry warehouse that
    stores structured parquet (not JSON strings) hands the chain.
    Skips the build-JSON → VARIANT-parse round trip entirely (a
    compatibility feature first: at bench scale the cascade, not the
    parse, dominates — see the registered query's scale note);
    everything
    downstream (cleanup, mapping, fan-out) is shared code, and
    `mango_feature_surface_native` hash-checks this path against the
    SAME oracle as the JSON path, so the two entries are proven
    row-identical."""
    if not _STRUCTURED_PINGS_EXPR_MEMO:
        _STRUCTURED_PINGS_EXPR_MEMO.extend(_structured_pings_exprs())
    return ev.select(*_STRUCTURED_PINGS_EXPR_MEMO)


#: Same memo pattern as _FULL_PINGS_EXPR_MEMO (fixed input column
#: names, expressions only).
_STRUCTURED_PINGS_EXPR_MEMO: list[F.Column] = []


def _structured_pings_exprs() -> list[F.Column]:
    def pick(vocab, salt: int, stride: int = 1) -> F.Column:
        arr = F.array(*[F.lit(x) for x in vocab])
        idx = F.floor(F.col("event_id") / stride) + salt
        return F.element_at(
            arr, (F.pmod(idx, F.lit(len(vocab))) + 1).cast("int")
        )

    def kv(key: str, value: F.Column) -> F.Column:
        return F.struct(F.lit(key).alias("key"), value.alias("value"))

    eid = F.col("event_id")
    extra = F.array_compact(
        F.array(
            kv("vertical", pick(_VERTICALS, 7, 5)),
            kv("source", pick(_SOURCES, 11, 7)),
            F.when(
                F.pmod(eid, F.lit(3)) == 0,
                kv(
                    "session_time",
                    F.pmod(eid * 37, F.lit(200_000)).cast("string"),
                ),
            ),
            F.when(
                F.pmod(eid, F.lit(3)) == 0,
                kv("url_counts", F.pmod(eid, F.lit(7)).cast("string")),
            ),
            F.when(
                F.pmod(eid, F.lit(11)) == 0, kv("app_link", F.lit("install"))
            ),
            F.when(
                F.pmod(eid, F.lit(11)) == 1, kv("app_link", F.lit("open"))
            ),
            F.when(
                F.pmod(eid, F.lit(13)) == 0,
                kv("show_keyboard", F.lit("true")),
            ),
        )
    )
    event = F.struct(
        FN.unix_ms(F.col("ts")).alias("event_timestamp"),
        F.lit("action").alias("event_category"),
        pick(_METHODS_FULL, 1, 1).alias("event_method"),
        pick(_OBJECTS_FULL, 3, 8).alias("event_object"),
        pick(_VALUES, 5, 64).alias("event_value"),
        extra.alias("event_extra"),
    )
    tracker = F.element_at(
        F.array(*[F.lit(t) for t in _TRACKER_TOKENS]),
        (F.pmod(F.col("user_id"), F.lit(len(_TRACKER_TOKENS))) + 1).cast("int"),
    )
    settings = F.filter(
        F.array(
            F.struct(
                F.lit("pref_search_engine").alias("key"),
                F.lit("google").alias("value"),
            ),
            F.struct(
                F.lit("pref_key_s_tracker_token").alias("key"),
                tracker.alias("value"),
            ),
            F.struct(
                F.lit("install_referrer").alias("key"),
                F.concat(
                    F.lit("ref-"),
                    F.pmod(F.col("user_id"), F.lit(4)).cast("string"),
                ).alias("value"),
            ),
        ),
        lambda s: s["value"].isNotNull(),
    )
    return [
        F.col("user_id").alias("client_id"),
        F.col("ts").alias("submission_timestamp"),
        F.to_date("ts").alias("submission_date"),
        os_of(F.col("user_id")).alias("os"),
        country_of(F.col("user_id")).alias("country"),
        F.array(event).alias("events"),
        settings.alias("settings"),
    ]


def unnest_events_structured(pings: DataFrame) -> DataFrame:
    """mango_events_unnested over STRUCTURED pings (no JSON parse):
    explode + D2 cleanup, identical output columns to
    :func:`unnest_events_full`."""
    parsed = pings.withColumn("event", F.explode("events"))
    return parsed.select(
        "client_id",
        "submission_timestamp",
        "submission_date",
        "os",
        "country",
        "settings",
        F.col("event.event_timestamp").alias("event_timestamp"),
        F.col("event.event_method").alias("event_method"),
        F.col("event.event_object").alias("event_object"),
        F.col("event.event_value").alias("event_value"),
        cleanup_extra(F.col("event.event_extra")).alias("event_extra"),
    )


def synthesize_core_pings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The telemetry_core-shaped stream for mango_core
    (sql/mango_core.sql: Zerda scan with searches map, profile_date,
    geo country): one core ping per event row, all fields closed-form.
    Includes the dirty cases the normalization layer exists for —
    '??' geo country (→ NULL, sql/mango_core_normalized.sql:2), future
    / pre-2017 profile dates (→ NULL, `:3`), search-count outliers
    ≥ 10000 (revenue query caps them, sql/mango_revenue_google.sql:16),
    and a non-Zerda app_name slice the scans must filter out."""
    ev = read_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    uid = F.col("user_id")
    entry = F.element_at(
        F.array(*[F.lit(x) for x in _ENTRYPOINTS]),
        (F.pmod(eid, F.lit(len(_ENTRYPOINTS))) + 1).cast("int"),
    )
    volume = F.when(
        F.pmod(eid, F.lit(97)) == 0, F.lit(20_000)  # outlier row
    ).otherwise(F.pmod(eid * 13, F.lit(50)) + 1)
    searches = F.map_from_arrays(
        F.array(entry), F.array(volume.cast("long"))
    )
    country = F.when(
        F.pmod(eid, F.lit(29)) == 0, F.lit("??")
    ).otherwise(country_of(uid))
    # profile_date as epoch days; some rows get corrupt future values
    profile_date = F.when(
        F.pmod(eid, F.lit(31)) == 0,
        F.lit(25_000),  # ~2038: fails the normalization window
    ).otherwise(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        - (F.pmod(uid, F.lit(300)) + 30)
    )
    return ev.select(
        uid.alias("client_id"),
        F.to_date("ts").alias("submission_date"),
        F.when(F.pmod(eid, F.lit(41)) == 0, F.lit("OtherApp"))
        .otherwise(F.lit("Zerda"))
        .alias("app_name"),
        os_of(uid).alias("os"),
        country.alias("geo_country"),
        profile_date.cast("long").alias("profile_date"),
        searches.alias("searches"),
        F.lit("+08:00").alias("tz"),
    )


def channel_mapping_table(spark: SparkSession) -> DataFrame:
    """The adjust tracker dim (MANGO_CHANNEL_MAPPING gcs jsonl snapshot,
    configs/bigquery.py:73-83) as a deterministic literal table — one
    row per tracker with all four token levels, arranged so every
    alt-key arm of the user_channels union finds a match."""
    rows = []
    for i in range(1, 9):
        rows.append(
            (
                f"net{i % 4}", f"nt{i}",
                f"camp{i % 3}", f"ct{i}",
                f"adg{i % 2}", f"at{i}",
                f"cre{i}", f"crt{i}",
            )
        )
    return spark.createDataFrame(
        rows,
        "network_name string, network_token string, campaign_name string,"
        " campaign_token string, adgroup_name string, adgroup_token string,"
        " creative_name string, creative_token string",
    )


def google_rps_table(spark: SparkSession) -> DataFrame:
    """Revenue-per-search rates by country (GOOGLE_RPS gcs csv,
    configs/bigquery.py:283-292) as a deterministic literal dim."""
    rows = [(c, round(0.001 * (i + 1), 6)) for i, c in enumerate(_COUNTRIES)]
    return spark.createDataFrame(rows, "country string, rps double")


def unnest_events_full(pings: DataFrame) -> DataFrame:
    """mango_events_unnested over the full-surface pings: positional
    parse + explode + cleanup, carrying os/country through."""
    parsed = pings.withColumn(
        "event", F.explode(json_extract_events("events_json"))
    )
    return parsed.select(
        "client_id",
        "submission_timestamp",
        "submission_date",
        "os",
        "country",
        "settings",
        F.col("event.event_timestamp").alias("event_timestamp"),
        F.col("event.event_method").alias("event_method"),
        F.col("event.event_object").alias("event_object"),
        F.col("event.event_value").alias("event_value"),
        cleanup_extra(F.col("event.event_extra")).alias("event_extra"),
    )


#: The pre-cascade surface: every column the D4 cascade + fan-out +
#: downstream RFE/cohort consumers read.  This is also the schema of
#: the materialized flat-events fixture (queries/mango_materialized.py).
#: In the production DAG (plans/mango_dag.py, mirroring reference
#: tasks/bigquery.py:416-461) mango_events_unnested is a view with one
#: reader: it is neither materialized nor persisted.
FLAT_SURFACE_COLS = [
    "client_id", "submission_timestamp", "submission_date", "os",
    "country", "settings_search_engine", "event_timestamp",
    "event_method", "event_object", "event_value", "extra_key",
    "extra_value", "event_vertical", "session_time", "url_counts",
    "app_link_install", "app_link_open", "show_keyboard",
]


def map_features_full(unnested: DataFrame) -> DataFrame:
    """mango_events_feature_mapping at full reference column surface
    (sql/mango_events_feature_mapping.sql:1-106): kv session metrics
    pulled from event_extra, outer lateral extra flatten, D4 cascade,
    3-way Feature/Vertical/App fan-out — every output column the RFE
    session and cohort tasks consume."""
    return mapped_fanout_from(flat_events_full(unnested))


def flat_events_full(unnested: DataFrame) -> DataFrame:
    """The PRE-CASCADE half of :func:`map_features_full`: kv session
    metrics + outer-lateral extra flatten, projected to exactly
    ``FLAT_SURFACE_COLS``.  Split out (r05 VERDICT #3) so the surface
    can be materialized once (content-keyed fixture / DAG table) and
    the cascade + fan-out timed over the materialized rows."""
    enriched = unnested.select(
        "*",
        F.coalesce(kv_get("event_extra", "vertical"), F.lit("")).alias(
            "event_vertical"
        ),
        F.coalesce(
            F.lower(kv_get("settings", "pref_search_engine")), F.lit("")
        ).alias("settings_search_engine"),
        kv_get("event_extra", "session_time").cast("long").alias("session_time"),
        kv_get("event_extra", "url_counts").cast("long").alias("url_counts"),
        F.when(
            F.exists(
                "event_extra",
                lambda s: (s["key"] == "app_link") & (s["value"] == "install"),
            ),
            F.lit(1),
        ).cast("long").alias("app_link_install"),
        F.when(
            F.exists(
                "event_extra",
                lambda s: (s["key"] == "app_link") & (s["value"] == "open"),
            ),
            F.lit(1),
        ).cast("long").alias("app_link_open"),
        F.when(
            F.exists(
                "event_extra",
                lambda s: (s["key"] == "show_keyboard") & (s["value"] == "true"),
            ),
            F.lit(1),
        ).cast("long").alias("show_keyboard"),
    )
    flat = enriched.select(
        "*", F.explode_outer("event_extra").alias("extra")
    ).select(
        "*",
        F.coalesce(F.lower(F.col("extra.key")), F.lit("")).alias("extra_key"),
        F.coalesce(F.lower(F.col("extra.value")), F.lit("")).alias(
            "extra_value"
        ),
    )
    return flat.select(*FLAT_SURFACE_COLS)


def mapped_fanout_from(flat: DataFrame) -> DataFrame:
    """The CASCADE half of :func:`map_features_full`: D4 rule cascade +
    3-way Feature/Vertical/App fan-out over a ``FLAT_SURFACE_COLS``
    frame (live or materialized)."""
    # r07 (VERDICT r06 #1): the LAMBDA-FREE compile — array_compact's
    # filter-lambda rewrite is CodegenFallback and excluded the cascade
    # pick from whole-stage codegen; measured 9.45 -> 7.77 s median on
    # the full rollup at sf0.1 (interleaved, SCALE.md r07 section)
    mapped = feature_mapping_nolambda(flat, out="map")
    fan = F.concat(
        F.transform(
            F.col("map.feature"),
            lambda x: F.struct(
                F.lit("Feature").alias("feature_type"), x.alias("feature_name")
            ),
        ),
        F.array(
            F.struct(
                F.lit("Vertical").alias("feature_type"),
                F.col("map.vertical").alias("feature_name"),
            ),
            F.struct(
                F.lit("App").alias("feature_type"),
                F.col("map.app").alias("feature_name"),
            ),
        ),
    )
    keep = FLAT_SURFACE_COLS
    return (
        mapped.select(*keep, F.explode(fan).alias("f"))
        .select(
            *keep,
            F.col("f.feature_type").alias("feature_type"),
            F.col("f.feature_name").alias("feature_name"),
        )
    )


def feature_usage_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: pings → unnest → mapping → daily per-feature usage
    (the input to the reference's cohort/RFE chain)."""
    fanned = map_features(unnest_events(synthesize_pings(spark, sf_dir)))
    return fanned.groupBy("submission_date", "feature_type", "feature_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("client_id").alias("n_clients"),
    )
