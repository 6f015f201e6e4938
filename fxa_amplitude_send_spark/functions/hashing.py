"""HMAC-SHA256 pseudonymization column function.

Reference semantics (utils.js:16-26):

    function hash (HMAC_KEY, ...properties) {
      const hmac = crypto.createHmac('sha256', HMAC_KEY)
      properties.forEach(property => { if (property) hmac.update(`${property}`) })
      return hmac.digest('hex')
    }

Contract details that MUST be replicated for insert_id parity (SURVEY.md §2A):

* **Falsy args are skipped**, not empty-stringified: null/undefined, '', 0,
  0.0, NaN and false contribute nothing to the digest (utils.js:20).
* Non-string args are coerced with JS template-string semantics: integral
  numbers render without a decimal point (`String(5.0) === '5'`); other
  doubles follow ECMA-262 Number::toString exactly — shortest round-trip
  digits laid out with JS thresholds (decimal notation through 1e-7..1e21,
  unpadded exponents, 'Infinity' spelling), which differs from Python repr
  for small fractions ('0.00005' vs '5e-05').
* There is **no separator** between concatenated properties.
* user_id is hashed FIRST and the already-hashed value feeds insert_id
  (utils.js:70-74).

Spark has no HMAC builtin (`sha2()` is a plain digest — not a substitute), so
this is the engine's flagship Pandas UDF: Arrow-batched, applied after filters
so Catalyst can still push predicates to the scan.
"""

from __future__ import annotations

import hashlib
import hmac as _hmac
import math

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _make_js_string_coerce():
    """Factory returning the JS `String(value)` coercion with falsy-skip.

    Defined as a closure-local function (not a module global) so that any UDF
    capturing it is serialized BY VALUE by cloudpickle — executor Python
    workers must not need this package importable on their own sys.path.
    """
    import math as _math

    def js_number_to_string(value):
        """ECMA-262 Number::toString(10) (§6.1.6.1.20) for finite non-zero,
        doubles: shortest round-trip digits (shared with Python repr), but
        JS layout rules — decimal notation for -6 < n <= 21 (so 5e-05
        renders '0.00005', not Python's '5e-05'; integral doubles render
        digit-padded, '5.0' -> '5'), exponential outside with an UNPADDED
        exponent ('1e-7', not '1e-07')."""
        if _math.isinf(value):
            return "Infinity" if value > 0 else "-Infinity"
        sign = "-" if value < 0 else ""
        r = repr(abs(value))
        mant, _, exp_s = r.partition("e")
        exp = int(exp_s) if exp_s else 0
        int_part, _, frac = mant.partition(".")
        int_stripped = int_part.lstrip("0")
        # value = 0.<digits> * 10^n with digits free of edge zeros
        if int_stripped:
            n = len(int_stripped) + exp
        else:
            n = -(len(frac) - len(frac.lstrip("0"))) + exp
        digits = (int_part + frac).strip("0")
        k = len(digits)
        if k <= n <= 21:
            s = digits + "0" * (n - k)
        elif 0 < n <= 21:
            s = digits[:n] + "." + digits[n:]
        elif -6 < n <= 0:
            s = "0." + "0" * (-n) + digits
        else:
            e = n - 1
            s = (
                digits[0]
                + ("." + digits[1:] if k > 1 else "")
                + "e"
                + ("+" if e >= 0 else "-")
                + str(abs(e))
            )
        return sign + s

    def js_string_coerce(value):
        if value is None:
            return None
        if isinstance(value, str):
            return value if value else None
        if isinstance(value, bool):
            return "true" if value else None  # String(false) skipped by guard
        if isinstance(value, int):
            return str(value) if value != 0 else None
        if isinstance(value, float):
            if value == 0.0 or _math.isnan(value):
                return None
            # js_number_to_string also covers integral doubles: String(5.0)
            # === '5', and String(1.2345678901234568e18) pads the SHORTEST
            # round-trip digits with zeros ('...800'), unlike Python's exact
            # int() ('...768') — doubles >= 2^53 only look exact.
            return js_number_to_string(value)
        return str(value)

    return js_string_coerce


#: driver-side alias (tests, golden vectors)
js_string_coerce = _make_js_string_coerce()


def hmac_sha256_py(key: str, *properties) -> str:
    """Driver-side reference implementation (used for golden tests)."""
    mac = _hmac.new(key.encode("utf-8"), digestmod=hashlib.sha256)
    for prop in properties:
        coerced = js_string_coerce(prop)
        if coerced is not None:
            mac.update(coerced.encode("utf-8"))
    return mac.hexdigest()


def hmac_sha256(key: str, *cols: Column) -> Column:
    """Vectorized HMAC-SHA256 over the JS-coerced, falsy-skipping concat of cols.

    Usage: df.withColumn("user_id", hmac_sha256(cfg.hmac_key, F.col("user_id")))
    """
    key_bytes = key.encode("utf-8")
    coerce = _make_js_string_coerce()  # closure-local → pickled by value

    @pandas_udf("string")
    def _hmac_udf(*series: pd.Series) -> pd.Series:
        import hashlib as _hashlib
        import hmac as _hm

        import pandas as _pd

        n = len(series[0]) if series else 0
        out = []
        columns = [s.tolist() for s in series]
        for i in range(n):
            mac = _hm.new(key_bytes, digestmod=_hashlib.sha256)
            for col_vals in columns:
                coerced = coerce(col_vals[i])
                if coerced is not None:
                    mac.update(coerced.encode("utf-8"))
            out.append(mac.hexdigest())
        return _pd.Series(out, dtype="object")

    return _hmac_udf(*cols)


def hmac_user_and_insert_id(
    key: str,
    user_id: Column,
    device_id: Column,
    session_id: Column,
    event_type: Column,
    time: Column,
) -> Column:
    """Fused R7+R8 (utils.js:70-74) in ONE Arrow round trip: returns
    struct<user_id_hashed, insert_id>.

    Semantics identical to pseudonymize + with_insert_id composed: a truthy
    user_id is HMAC-hashed first and the HASHED value feeds insert_id; a
    falsy user_id passes through and is skipped by the falsy-skip concat.
    Fusing halves the Python-worker transfer for the flagship pipeline.
    """
    key_bytes = key.encode("utf-8")
    coerce = _make_js_string_coerce()  # closure-local → pickled by value

    @pandas_udf("user_id_hashed string, insert_id string")
    def _fused(*series):
        import hashlib as _hashlib
        import hmac as _hm

        import pandas as _pd

        users, devices, sessions, etypes, times = [s.tolist() for s in series]
        out_user, out_insert = [], []
        for i in range(len(users)):
            u = users[i]
            u_coerced = coerce(u)
            if u_coerced is not None:
                mac = _hm.new(key_bytes, u_coerced.encode("utf-8"), _hashlib.sha256)
                u_final = mac.hexdigest()
            else:
                u_final = u  # falsy user passes through unhashed (utils.js:70)
            mac = _hm.new(key_bytes, digestmod=_hashlib.sha256)
            for v in (u_final, devices[i], sessions[i], etypes[i], times[i]):
                c = coerce(v)
                if c is not None:
                    mac.update(c.encode("utf-8"))
            out_user.append(u_final)
            out_insert.append(mac.hexdigest())
        return _pd.DataFrame(
            {"user_id_hashed": out_user, "insert_id": out_insert}
        )

    return _fused(user_id, device_id, session_id, event_type, time)


def _hmac_pads(key: str) -> tuple[bytes, bytes]:
    """RFC 2104 inner/outer padded keys for SHA-256 (block size 64)."""
    kb = key.encode("utf-8")
    if len(kb) > 64:
        kb = hashlib.sha256(kb).digest()
    kb = kb.ljust(64, b"\x00")
    return bytes(b ^ 0x36 for b in kb), bytes(b ^ 0x5C for b in kb)


def hmac_sha256_jvm(key: str, message: Column) -> Column:
    """HMAC-SHA256 hex digest computed ENTIRELY in the JVM from the sha2
    builtin — HMAC(K, m) = SHA256((K ^ opad) || SHA256((K ^ ipad) || m))
    (RFC 2104) with the padded keys folded to binary literals at plan time.

    Removes the ArrowEvalPython node (and its 32-Python-worker fan-out) from
    every hashing query: the digest runs inside whole-stage codegen at scan
    parallelism (guide §4.1 — prefer builtins over any UDF). Bit-identical
    to ``hmac.new(key, m, sha256).hexdigest()`` (differential-tested against
    ``hmac_sha256_py`` in tests/test_hashing_jvm.py).

    ``message`` must be the ALREADY-COERCED byte content (string col, UTF-8
    encoded here; nulls propagate to a null digest) — the JS falsy-skip
    concat is the caller's job via ``js_contrib_*`` below, because coercion
    depends on each property's Spark type while this function is type-blind.
    """
    ipad, opad = _hmac_pads(key)
    inner = F.sha2(F.concat(F.lit(ipad), F.encode(message, "UTF-8")), 256)
    return F.sha2(F.concat(F.lit(opad), F.unhex(inner)), 256)


def js_contrib_string(c: Column) -> Column:
    """JS template-coercion contribution of a STRING property: falsy ('' or
    null) contributes nothing — modeled as '' so a plain concat over
    contributions equals the reference's skip-and-append loop
    (utils.js:20)."""
    return F.coalesce(c, F.lit(""))


def js_contrib_long(c: Column) -> Column:
    """Contribution of an integral (long/int) property: 0 and null are
    falsy-skipped; anything else renders as its decimal digits — identical
    to JS ``String(n)`` for integers below 2^53 (the only integral domain
    the engine feeds: ids and keys)."""
    return F.when(c.isNotNull() & (c != 0), c.cast("string")).otherwise(F.lit(""))


def _js_grid_decimal_str(cents: Column, scale: int) -> Column:
    """ECMA-262 ``String(double)`` for a double that lies EXACTLY on the
    10^-scale decimal grid, reconstructed from its scaled integer
    (``cents`` = round(v * 10^scale), exact by the grid precondition).

    Why this equals Number::toString: for every value the engine feeds
    (|v| < 2^42 at scale 3 — epoch-millis; |v| < 2^46 at scale 2 — money),
    the grid decimal is the SHORTEST decimal in the value's half-ulp
    rounding interval (grid spacing 10^-scale exceeds the ulp there), so the
    shortest-round-trip digits ARE the grid digits, laid out in plain
    decimal notation (n <= 21 digits). Differential-tested against Python's
    repr-based reference coercion over the full events table."""
    unit = 10**scale
    sign = F.when(cents < 0, F.lit("-")).otherwise(F.lit(""))
    a = F.abs(cents)
    if scale == 0:
        return F.concat(sign, a.cast("string"))
    frac = a % unit
    ipart = ((a - frac) / unit).cast("long").cast("string")
    frac_s = F.regexp_replace(F.lpad(frac.cast("string"), scale, "0"), "0+$", "")
    return F.concat(
        sign,
        ipart,
        F.when(frac > 0, F.concat(F.lit("."), frac_s)).otherwise(F.lit("")),
    )


def js_contrib_grid_double(c: Column, scale: int) -> Column:
    """Contribution of a DOUBLE property constrained to the 10^-scale
    decimal grid (the engine's money/millis discipline): 0.0, NaN and null
    are falsy-skipped; otherwise ECMA-262 decimal layout via the exact
    scaled-integer reconstruction.

    Total over every double: a value whose scaled integer does not fit in a
    long (|v·10^scale| >= 2^63, e.g. a time of 1e300 or a session id that
    parseInt repaired to 1e23) renders as Spark's own double string
    ('1.0E300', 'Infinity') instead of raising an ANSI cast overflow, which
    would fail every micro-batch that carries such an event."""
    scaled = F.round(c * F.lit(10**scale))
    # strict bound: -2^63 itself would overflow the abs() in the layout
    fits = F.abs(scaled) < F.lit(float(2**63))
    return (
        F.when(c.isNull() | F.isnan(c) | (c == 0.0), F.lit(""))
        .when(fits, _js_grid_decimal_str(scaled.cast("long"), scale))
        .otherwise(c.cast("string"))
    )


def hmac_sha256_concat_jvm(key: str, *contribs: Column) -> Column:
    """HMAC-SHA256 over the separator-free concat of pre-coerced
    contributions (each '' when its property is falsy) — the JVM twin of
    ``hmac_sha256`` for callers whose property types are statically known.
    The contribution columns are never null, so the concat never is."""
    return hmac_sha256_jvm(key, F.concat(*contribs))


def rolling_fingerprint(
    tokens: Column,
    base: int = 1_000_003,
    prime: int = (1 << 31) - 1,
    portable: bool = False,
) -> Column:
    """Rabin-Karp rolling fingerprint over an array<string> of tokens:
    acc = (acc * base + hash(tok) mod prime) mod prime, left to right.

    Order-sensitive by construction — permuted token streams hash
    differently, complementing bag-of-words sketches (simhash). The default
    Mersenne prime 2^31-1 keeps every intermediate < 2^52, safe under ANSI
    int64 arithmetic. Runs entirely in whole-stage codegen (no UDF).

    ``portable=False`` (production) hashes tokens with xxhash64 — fast,
    well-dispersed, engine-specific. ``portable=True`` hashes each token
    with a base-31 polynomial over its code points — bit-identical across
    engines (DuckDB: nested list_reduce over unicode()), so results are
    differential-testable; defined for ASCII/BMP text.
    """
    if portable:
        tok_hash = lambda t: F.aggregate(
            F.split(t, ""),
            F.lit(0).cast("long"),
            lambda a, c: F.pmod(a * F.lit(31) + F.ascii(c).cast("long"), F.lit(prime)),
        )
        hashed = F.transform(tokens, tok_hash)
    else:
        hashed = F.transform(tokens, lambda t: F.pmod(F.xxhash64(t), F.lit(prime)))
    return F.aggregate(
        hashed,
        F.lit(0).cast("long"),
        lambda acc, h: F.pmod(acc * F.lit(base) + h, F.lit(prime)),
    )
