"""The reference event pipeline (utils.js:37-90, synchronous-pull.js:56-72)
re-expressed as pure Spark column expressions.

Stages, in reference order:

1. ``decode_pubsub``    — base64 → JSON → ``.jsonPayload`` projection
                          (synchronous-pull.js:57)
2. ``parse_envelope``   — the three envelope variants (utils.js:38-52)
3. validity filter      — ``isEventOk`` predicate (utils.js:28-35,54-56)
4. session repair       — string session_id → parseInt ∨ -1 (utils.js:59-68)
5. ``pseudonymize``     — HMAC-SHA256 of user_id (utils.js:70-72)
6. ``with_insert_id``   — dedup identity key (utils.js:74)
7. ``identify_fanout``  — 1 → 0..2 event fan-out, identify first
                          (utils.js:76-84, synchronous-pull.js:65-72)

Everything except the HMAC (a Pandas UDF — Spark has no HMAC builtin) stays
inside whole-stage codegen. The chain is embarrassingly parallel: no shuffle
anywhere, so at 100 TB it scales with scan bandwidth; the only planning care
is applying the filter BEFORE the opaque HMAC UDF so Catalyst can push the
predicate toward the scan.

Documented divergences from reference bugs (SURVEY.md §2A):
* missing ``user_properties`` → no identify event (reference throws, utils.js:77)
* everything here is pure — the reference mutates its input (utils.js:112)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hmac_sha256

#: user_properties keys routed to a $identify event (utils.js:105)
IDENTIFY_VERBS = ("$set", "$setOnce", "$add", "$append", "$unset")

#: Output schema of the parsed event record (engine's explicit version of the
#: reference's implicit/dynamic schema — SURVEY.md §1.2).
EVENT_COLUMNS = (
    "device_id",
    "user_id",
    "event_type",
    "time",
    "session_id",
    "event_properties",
    "user_properties",
)


def decode_pubsub(df: DataFrame, data_col: str = "data", base64_encoded: bool = True) -> DataFrame:
    """R3: base64 bytes → JSON text → ``jsonPayload`` projection.

    Mirrors ``JSON.parse(Buffer.from(m.message.data,'base64').toString()).jsonPayload``
    (synchronous-pull.js:57). Output column: ``payload`` (JSON string).
    """
    raw = F.col(data_col)
    if base64_encoded:
        raw = F.unbase64(raw).cast("string")
    return df.withColumn("payload", F.get_json_object(raw, "$.jsonPayload"))


def _once(col: Column) -> Column:
    """Evaluate-once barrier for an expensive expression.

    ``shuffle(array(col))[0]`` is the identity (permuting a 1-element array),
    but ``shuffle`` is nondeterministic, which stops the optimizer from
    (a) collapsing the projection into neighbors and (b) substituting the
    expression into every downstream reference when filters are pushed past
    it. This matters because JSON parsing (``from_json``/``get_json_object``)
    is CodegenFallback in Spark: operators containing it run INTERPRETED,
    with no whole-stage codegen and therefore no subexpression elimination —
    an inlined parse really is re-executed per occurrence (measured: the
    validity filter alone re-parsed each payload ~12× at sf0.1, ~4× the
    whole pipeline's cost).

    The previous barrier, ``F.when(F.rand(7) >= -1.0, col)``, is DEAD on
    Spark 4.1: the optimizer's literal-range analysis folds
    ``rand() >= -1.0`` to true and the wrapper vanishes, after which filter
    pushdown inlines the whole parse tree into the scan predicate (measured:
    37 from_json + 49 get_json_object occurrences in the flagship plan,
    +0.7 s at sf0.1). ``shuffle`` has no such fold and survives optimization
    (asserted by tests/test_event_pipeline.py::test_once_barrier_survives).
    """
    return F.shuffle(F.array(col))[0]


def parse_envelope(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """R4: resolve the three envelope variants into typed event columns.

    Variants (utils.js:38-52):
      1. ``{"Fields": {...event...}}``           → unwrap Fields
      2. ``{"Fields": {"op": _, "data": "..."}}`` → event = parse(data)
      3. Fields with stringified event_properties / user_properties
      4. bare event (no Fields)

    ``get_json_object`` returns the JSON text of a sub-object AND the unwrapped
    content of a string-encoded field, so variants 3/4 collapse into one
    expression — no UDF, no schema inference.

    Plan discipline: each JSON parse is materialized EXACTLY ONCE behind an
    ``_once`` barrier (see above) — five parses per row total (Fields
    extract, op/data probe, text-typed event, number-typed event,
    user_properties map), instead of the ~20 an inlined expression tree
    degenerates to once filters/fan-out reference the parsed columns.

    Output columns: device_id, user_id, event_type, time (double),
    session_id (double, repaired), event_properties (JSON string),
    user_properties (map<string,string> — nested values kept as JSON text).
    """
    payload = F.col(payload_col)

    staged = df.withColumn("_fields", _once(F.get_json_object(payload, "$.Fields")))
    staged = staged.withColumn(
        "_opdata", _once(F.from_json(F.col("_fields"), "op string, data string"))
    )
    fields_txt = F.col("_fields")
    opdata = F.col("_opdata")

    # JS truthiness: `event.op && event.data` (utils.js:41) — empty strings fail.
    event_str = (
        F.when(
            fields_txt.isNotNull()
            & (F.length(opdata["op"]) > 0)
            & (F.length(opdata["data"]) > 0),
            opdata["data"],
        )
        .when(fields_txt.isNotNull(), fields_txt)
        .otherwise(payload)
    )
    staged = staged.withColumn("_event", _once(event_str))
    ev = F.col("_event")

    # Two parses of the event, by design (not per-column extraction):
    # * ``text``: every field as StringType — from_json captures any JSON type
    #   as its literal text (objects become JSON text, numbers their token),
    #   which uniformly handles the stringified-props envelope (utils.js:44-50).
    # * ``nums``: numeric-TYPE detection — from_json yields NULL where the
    #   JSON value is a string, replicating `is.positive(event.time)` (numbers
    #   only, utils.js:34) and `is.string(event.session_id)` (utils.js:59).
    staged = staged.withColumn(
        "_text",
        _once(
            F.from_json(
                ev,
                "device_id string, user_id string, event_type string,"
                " session_id string, event_properties string, user_properties string",
            )
        ),
    ).withColumn("_nums", _once(F.from_json(ev, "time double, session_id double")))
    text = F.col("_text")
    nums = F.col("_nums")

    # parseInt(x, 10): optional sign, leading digit run, else NaN → -1
    # (utils.js:61-65). Regexp replicates the leading-prefix parse
    # ("123abc" → 123), which try_cast alone would reject.
    session_prefix = F.regexp_extract(text["session_id"], r"^\s*([+-]?\d+)", 1)
    session_repaired = (
        F.when(nums["session_id"].isNotNull(), nums["session_id"])  # number: untouched
        .when(
            text["session_id"].isNotNull(),
            F.coalesce(session_prefix.try_cast("double"), F.lit(-1.0)),
        )
        .otherwise(F.lit(None).cast("double"))  # absent stays absent
    )

    return (
        staged.withColumn("device_id", text["device_id"])
        .withColumn("user_id", text["user_id"])
        .withColumn("event_type", text["event_type"])
        .withColumn("time", nums["time"])
        .withColumn("session_id", session_repaired)
        .withColumn("event_properties", text["event_properties"])
        .withColumn(
            "user_properties",
            _once(F.from_json(text["user_properties"], "map<string,string>")),
        )
        .drop("_fields", "_opdata", "_event", "_text", "_nums")
    )


def validity_predicate(
    device_id: Column | None = None,
    user_id: Column | None = None,
    event_type: Column | None = None,
    time: Column | None = None,
) -> Column:
    """R5 ``isEventOk`` (utils.js:28-35):
    (non-empty device_id ∨ non-empty user_id) ∧ non-empty event_type ∧ time > 0.

    ``time`` must be a *number* in the source JSON — parse_envelope leaves it
    NULL for string-typed time, so `> 0` correctly rejects those.
    """
    device_id = F.col("device_id") if device_id is None else device_id
    user_id = F.col("user_id") if user_id is None else user_id
    event_type = F.col("event_type") if event_type is None else event_type
    time = F.col("time") if time is None else time
    non_empty = lambda c: c.isNotNull() & (F.length(c) > 0)  # noqa: E731
    return (
        (non_empty(device_id) | non_empty(user_id))
        & non_empty(event_type)
        & time.isNotNull()
        & (time > 0)
    )


def pseudonymize(df: DataFrame, hmac_key: str, user_col: str = "user_id") -> DataFrame:
    """R7: replace truthy user_id with its HMAC-SHA256 (utils.js:70-72).

    Falsy user_id (null/empty) passes through unhashed, exactly like the
    reference's `if (event.user_id)` guard.
    """
    c = F.col(user_col)
    return df.withColumn(
        user_col,
        F.when(c.isNotNull() & (F.length(c) > 0), hmac_sha256(hmac_key, c)).otherwise(c),
    )


def with_insert_id(df: DataFrame, hmac_key: str) -> DataFrame:
    """R8: derive the Amplitude dedup key (utils.js:74).

    insert_id = HMAC(key, hashed_user_id, device_id, session_id, event_type, time)
    with the falsy-skipping JS coercion handled inside the UDF.
    """
    return df.withColumn(
        "insert_id",
        hmac_sha256(
            hmac_key,
            F.col("user_id"),
            F.col("device_id"),
            F.col("session_id"),
            F.col("event_type"),
            F.col("time"),
        ),
    )


def _verb_lit():
    return F.array(*[F.lit(v) for v in IDENTIFY_VERBS])


def identify_fanout(df: DataFrame) -> DataFrame:
    """R9-R11: per event emit [identify?, httpapi] with identify FIRST.

    Reference (utils.js:76-84, synchronous-pull.js:65-72): if any identify verb
    is *assigned* (non-null) in user_properties, emit an extra ``$identify``
    event carrying only the verb keys; the httpapi copy loses them. Pure
    two-projection version of the reference's mutating splitIdentifyPayload
    (utils.js:108-116).

    Output: one row per emitted event, ``emit_rank`` 0=identify 1=httpapi
    preserving the reference's emission order within each source event.
    """
    up = F.col("user_properties")
    verbs = _verb_lit()
    has_verb = up.isNotNull() & (
        F.size(F.map_filter(up, lambda k, v: F.array_contains(verbs, k) & v.isNotNull())) > 0
    )
    # Verb keys (even null-valued ones) route to the identify payload once one
    # assigned verb exists — matches Object.entries routing (utils.js:109-115).
    identify_props = F.map_filter(up, lambda k, v: F.array_contains(verbs, k))
    rest_props = F.map_filter(up, lambda k, v: ~F.array_contains(verbs, k))

    null_str = F.lit(None).cast("string")
    null_dbl = F.lit(None).cast("double")
    null_map = F.lit(None).cast("map<string,string>")

    identify_struct = F.when(
        has_verb,
        F.struct(
            F.col("device_id").alias("device_id"),
            F.lit("$identify").alias("event_type"),
            F.col("user_id").alias("user_id"),
            null_dbl.alias("time"),
            null_dbl.alias("session_id"),
            null_str.alias("event_properties"),
            identify_props.alias("user_properties"),
            null_str.alias("insert_id"),
            F.lit(0).alias("emit_rank"),
        ),
    )
    httpapi_struct = F.struct(
        F.col("device_id").alias("device_id"),
        F.col("event_type").alias("event_type"),
        F.col("user_id").alias("user_id"),
        F.col("time").alias("time"),
        F.col("session_id").alias("session_id"),
        F.col("event_properties").alias("event_properties"),
        # verb keys are stripped ONLY when an identify event is emitted — the
        # reference calls splitIdentifyPayload solely inside the has-verb
        # branch (utils.js:76-84), so a lone null-valued verb key like
        # {"$set": null} stays on the httpapi copy untouched.
        F.when(has_verb, rest_props)
        .when(up.isNotNull(), up)
        .otherwise(null_map)
        .alias("user_properties"),
        F.col("insert_id").alias("insert_id"),
        F.lit(1).alias("emit_rank"),
    )

    passthrough = [c for c in df.columns if c not in EVENT_COLUMNS and c != "insert_id"]
    exploded = df.select(
        *passthrough,
        F.explode(
            F.filter(F.array(identify_struct, httpapi_struct), lambda x: x.isNotNull())
        ).alias("_ev"),
    )
    return exploded.select(*passthrough, "_ev.*")


def event_pipeline(
    df: DataFrame,
    hmac_key: str,
    payload_col: str = "payload",
    fanout: bool = True,
    hash_in_jvm: bool = True,
) -> DataFrame:
    """Full composed pipeline: envelope → filter → pseudonymize → insert_id →
    fan-out. Mirrors parseMessage + the poll loop's flatMap
    (utils.js:37-90, synchronous-pull.js:56-72) as ONE declarative plan.

    ``hash_in_jvm=True`` (default) computes both HMACs with the sha2-builtin
    construction (functions/hashing.py::hmac_sha256_jvm) — zero Python
    workers in the whole pipeline, digest inside codegen at scan
    parallelism. Bit-identical to the pandas-UDF path for the event-time
    contract (``time``/``session_id`` on the millisecond 10^-3 grid — epoch
    times are ms-or-finer integers in every envelope the reference handles;
    asserted by the fused-vs-composed differential in
    tests/test_event_pipeline.py). Pass False for exotic payloads whose
    numeric fields leave that grid (sub-microsecond times, fractional
    session ids beyond 3 decimals), where only the generic Python coercion
    reproduces ECMA-262 shortest-round-trip layout. Numbers too large for
    the millisecond grid (|v|·1000 >= 2^63: a ``time`` of 1e300, a string
    session id that parseInt repairs to 1e23) diverge the same way: the JVM
    path hashes Spark's double string ('1.0E300', not JS '1e+300') — a
    deterministic insert_id, never an overflow that would fail and replay
    the micro-batch forever.
    """
    from ..functions.hashing import hmac_user_and_insert_id

    parsed = parse_envelope(df, payload_col)
    valid = parsed.filter(validity_predicate())
    if hash_in_jvm:
        from ..functions.hashing import (
            hmac_sha256_concat_jvm,
            hmac_sha256_jvm,
            js_contrib_grid_double,
            js_contrib_string,
        )

        u = F.col("user_id")
        u_final = F.when(
            u.isNotNull() & (F.length(u) > 0), hmac_sha256_jvm(hmac_key, u)
        ).otherwise(u)
        hashed = valid.withColumn("user_id", u_final).withColumn(
            "insert_id",
            hmac_sha256_concat_jvm(
                hmac_key,
                js_contrib_string(F.col("user_id")),
                js_contrib_string(F.col("device_id")),
                js_contrib_grid_double(F.col("session_id"), 3),
                js_contrib_string(F.col("event_type")),
                js_contrib_grid_double(F.col("time"), 3),
            ),
        )
        return identify_fanout(hashed) if fanout else hashed
    # fused R7+R8: one Arrow round trip for user-hash + insert_id (identical
    # semantics to pseudonymize() ∘ with_insert_id(), golden-tested)
    fused = valid.withColumn(
        "_h",
        hmac_user_and_insert_id(
            hmac_key,
            F.col("user_id"),
            F.col("device_id"),
            F.col("session_id"),
            F.col("event_type"),
            F.col("time"),
        ),
    )
    hashed = (
        fused.withColumn("user_id", F.col("_h.user_id_hashed"))
        .withColumn("insert_id", F.col("_h.insert_id"))
        .drop("_h")
    )
    return identify_fanout(hashed) if fanout else hashed


def quarantine_split(df: DataFrame, payload_col: str = "payload") -> tuple[DataFrame, DataFrame]:
    """Valid/invalid split. The reference acks (permanently drops) invalid
    events (synchronous-pull.js:69-71,88-92); the engine optionally keeps them
    for a dead-letter sink — an additive divergence (SURVEY.md §2A).
    """
    parsed = parse_envelope(df, payload_col)
    ok = validity_predicate()
    return parsed.filter(ok), parsed.filter(~ok)
