"""Scalar function library (SURVEY.md §2.7 F1–F16).

All pure Column expressions — JVM-side, whole-stage-codegen friendly.
No Python UDFs in this module: at 100 TB every one of these runs per
row, so they must stay inside codegen.

Reference parity citations (semantics source only, no code reuse):
  F1  ntp id format/parse      — nextplib/ntp_entry.py:48-50, ntp_utils.py:14-19
  F2  id syntax check          — nextplib/ntp_utils.py:21-26
  F3  field-name sanitize      — nextplib/ntp_utils.py:43-49
  F4  NaN→'' normalize         — nextplib/ntp_utils.py:95-99
  F5  stringified-list parse   — nextplib/ntp_utils.py:79-94 (eval → from_json)
  F7  timestamp truncate       — nextplib/ntp_utils.py:231-246
  F9  URL decode/clean         — nextplib/ntp_entry.py:136-141
  F10 URL host extract         — nextplib/ntp_utils.py:217-223
  F11 basename → place_id      — checking/clean_place.py:121
  F12 file-name compose/split  — nextplib/ntp_utils.py:225-227, ntp_storage.py:25-30
  F13 NIF/DNI/CIF/NIE check    — OLD/get_entities.py:32-43
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NTP_ID_RE = r"^ntp[0-9]{8}$"
NTP_ID_FMT = "ntp%08d"
# group boundaries: insiders/outsiders ids start at 0, minors at 10,000,000
# (reference nextplib/ntp_constants.py:23-27)
MIN_ORDER = {"insiders": 0, "outsiders": 0, "minors": 10_000_000}


def order_range(group: str = "contracts") -> tuple[int, int]:
    """Lowest and highest id order of the group's 'ntp%08d' range."""
    lo = MIN_ORDER["minors"] if group == "minors" else 0
    return lo, lo + MIN_ORDER["minors"] - 1


def format_ntp_id(order: Column) -> Column:
    """F1: int order → 'ntp%08d' surrogate key."""
    return F.format_string(NTP_ID_FMT, order.cast("long"))


def parse_ntp_id(ntp_id: Column) -> Column:
    """F1 inverse: 'ntp00001234' → 1234 (NULL when malformed)."""
    return F.when(
        ntp_id.rlike(NTP_ID_RE), F.substring(ntp_id, 4, 8).cast("long")
    )


def is_valid_ntp_id(ntp_id: Column) -> Column:
    """F2: regex syntax check."""
    return ntp_id.rlike(NTP_ID_RE)


def ntp_group(ntp_id: Column) -> Column:
    """Decode group partition from the first id digit
    (reference ntp_utils.py:28-32): 0.. → contracts, 1.. → minors."""
    return F.when(parse_ntp_id(ntp_id) >= MIN_ORDER["minors"], F.lit("minors")).otherwise(
        F.lit("contracts")
    )


def sanitize_field_name(original: Column) -> Column:
    """F3: derive a DBFIELD-style name from a raw source header:
    strip the 'ContractFolderStatus - ' prefix, promote a trailing
    parenthesized qualifier to a 'Qualifier/name' path, ' - ' and
    spaces → '_', strip accents (semantics of ntp_utils.py:43-49)."""
    c = F.regexp_replace(original, r"^ContractFolderStatus - ", "")
    # "Name (Qualifier)" → "Qualifier/Name"
    c = F.when(
        c.rlike(r"^.+ \([^)]+\)$"),
        F.concat_ws(
            "/",
            F.regexp_extract(c, r"\(([^)]+)\)$", 1),
            F.regexp_extract(c, r"^(.+?) \([^)]+\)$", 1),
        ),
    ).otherwise(c)
    c = F.regexp_replace(c, r" - ", "_")
    c = F.regexp_replace(c, r" ", "_")
    # transliterate the Spanish accent set (unidecode subset that the
    # source headers actually use)
    return F.translate(c, "áéíóúüñÁÉÍÓÚÜÑ", "aeiouunAEIOUUN")


def null_to_empty(c: Column) -> Column:
    """F4: NULL/NaN → '' for string business fields."""
    return F.coalesce(c.cast("string"), F.lit(""))


def parse_stringified_list(c: Column) -> Column:
    """F5: values like "['a', 'b']" → ARRAY<STRING>; scalars wrap to a
    1-element array. Replaces the reference's ``eval`` (ntp_utils.py:84)
    with from_json — never eval. Single quotes are converted to double
    quotes first (the stringified form never contains escaped quotes in
    the source data; anything unparseable falls back to a 1-elem wrap)."""
    as_json = F.regexp_replace(c, r"'", '"')
    parsed = F.from_json(as_json, "array<string>")
    return (
        F.when(c.isNull(), F.lit(None).cast("array<string>"))
        .when(c.startswith("[") & parsed.isNotNull(), parsed)
        .otherwise(F.array(c))
    )


def truncate_ts(c: Column) -> Column:
    """F7: timestamp-ish string → canonical 19-char 'yyyy-MM-dd HH:mm:ss'.
    Accepts either a timestamp or a string with optional fraction."""
    return F.substring(F.regexp_replace(c.cast("string"), r"T", " "), 1, 19)


def clean_url(c: Column) -> Column:
    """F9: percent-decode, then re-escape spaces and drop '+'."""
    decoded = F.try_url_decode(c)
    decoded = F.coalesce(decoded, c)
    return F.regexp_replace(F.regexp_replace(decoded, r" ", "%20"), r"\+", "")


def url_host(c: Column) -> Column:
    """F10: URL → host (netloc)."""
    # try_: under ANSI mode parse_url RAISES on malformed URLs — one
    # bad row in a 100 TB crawl table must yield NULL, not kill the job
    return F.try_parse_url(c, F.lit("HOST"))


def basename(c: Column) -> Column:
    """F11: last '/'-separated segment (place_id from the ATOM URL)."""
    return F.element_at(F.split(c, "/"), -1)


def compose_file_name(ntp_id: Column, field: Column, ext: Column) -> Column:
    """F12: '{ntp_id}_{field}.{ext}' stored-document name."""
    return F.concat_ws("", ntp_id, F.lit("_"), field, F.lit("."), ext)


def split_file_name(name: Column) -> dict[str, Column]:
    """F12 inverse: file name → (ntp_id, field, ext) columns."""
    return {
        "ntp_id": F.regexp_extract(name, r"^(ntp[0-9]{8})_", 1),
        "field": F.regexp_extract(name, r"^ntp[0-9]{8}_(.+)\.[^.]+$", 1),
        "ext": F.regexp_extract(name, r"\.([^.]+)$", 1),
    }


def is_valid_nif(c: Column) -> Column:
    """F13: Spanish fiscal id shape check (NIF / CIF / NIE) after
    uppercasing and stripping '-', '.', ' ' — same normalization and
    regex family as OLD/get_entities.py:32-43."""
    n = F.upper(F.translate(c, "-. ", ""))
    nif = n.rlike(r"^[0-9]{8}[A-Z]$")
    cif = n.rlike(r"^[ABCDEFGHJKLMNPQRSUVW][0-9]{7}[0-9A-J]$")
    nie = n.rlike(r"^[XYZ][0-9]{7}[A-Z]$")
    return nif | cif | nie


def canonical_url(c: Column) -> Column:
    """Training-pipeline URL canonicalization (the URL-dedup key, à la
    CCNet/RefinedWeb): lowercase host, strip a leading 'www.', drop
    scheme/query/fragment, strip trailing slashes → 'host/path'.
    Pure expressions (parse_url is JVM-side), no UDF."""
    host = F.lower(F.try_parse_url(c, F.lit("HOST")))
    host = F.regexp_replace(host, r"^www\.", "")
    path = F.coalesce(F.try_parse_url(c, F.lit("PATH")), F.lit(""))
    path = F.regexp_replace(path, r"/+$", "")
    return F.concat(host, path)


def md5_hash32(c: Column) -> Column:
    """32-bit hash from the first 8 hex digits of md5 — THE shared
    cross-engine hash lane (DuckDB twin: plans/registry.ddb_hex32).
    Single definition: dedup signatures, the hashing-trick classifier,
    and shard assignment all import this one, so none can drift from
    the oracle contract independently. ~2× slower than xxhash64 per
    value — oracle-checked paths and stable-assignment sinks; hot
    production hashing stays on xxhash64."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def md5_hash60(c: Column) -> Column:
    """60-bit hash from the first 15 hex digits of md5 (DuckDB twin:
    plans/registry.ddb_hex60). The wide lane for order-statistic
    sketches (KMV/theta): a 32-bit lane collides ~quadratically and
    would bias k-minimum estimators at corpus scale; 60 bits keeps
    the k smallest values collision-free to ~2^30 distinct items and
    still fits BIGINT in both engines."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def ordered_pairs(arr: Column) -> Column:
    """All ordered pairs (x, y) with x strictly before y in ``arr``,
    as an array of (x, y) structs generated MAP-SIDE:
    flatten(transform(arr, (x, i) -> transform(slice(arr, i+2, ...),
    y -> (x, y)))). For a sorted-distinct input array this is exactly
    the u < v unordered-pair set the basket SELF-JOINS used to emit —
    minus the self-join's two extra exchanges and sort-merge (guide
    §2.4: remove shuffles outright). Fan-out is bounded by the
    caller's basket cap (≤ C(cap, 2) per row)."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.greatest(F.size(arr) - i - F.lit(1), F.lit(0))),
                lambda y: F.struct(x.alias("x"), y.alias("y")),
            ),
        )
    )


def ordered_pairs_packed(arr: Column) -> Column:
    """``ordered_pairs`` with each (x, y) pair packed into ONE BIGINT
    x·2³² + y instead of a struct — callers must guarantee
    0 ≤ x, y < 2³¹ (then the packing is a bijection and packed numeric
    order equals (x, y) lexicographic order). The pair array is a
    primitive long array: no per-element struct allocation in
    deg²-sized explodes, and downstream aggregates hash/ship one
    8-byte key (guide §2.3: narrower shuffle keys)."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.greatest(F.size(arr) - i - F.lit(1), F.lit(0))),
                lambda y: x * F.lit(1 << 32) + y,
            ),
        )
    )
