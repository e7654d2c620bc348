"""Deterministic fake-value generators as pure Catalyst expressions.

Each generator takes a string ``Column`` and returns a ``Column`` whose
value is a format-valid fake derived ONLY from ``(seed, input value)``:
same input ⇒ same output, across runs, partitions, and cluster sizes
(the reference's T4 determinism contract,
ref: rustic-transformator/src/transformator.rs:74-119). No Python UDFs:
everything is md5 + substring + conv + element_at, so the whole
anonymization pipeline stays inside whole-stage codegen and is
reproducible in DuckDB SQL (see ``fake_sql.py``).

Generator inventory mirrors the reference's FakerType enum
(ref: rustic-faker-types/src/lib.rs:6-16, generators
transformator.rs:25-62): FirstName, LastName, Name, CompanyName, Email,
Address, Md5 (UUIDv4-shaped, matching the reference's quirk), Phone
(digit remap, structure preserved,
ref: fake_phone_transformator.rs:14-58), MultiEmail (Postgres array
literal, ref: fake_multi_email_transformator.rs:15-52), EmailWithIdPrefix
(cross-column, ref: fake_email_with_id_prefix_transformator.rs:19-62).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from rustic_witcher_spark.functions.hashing import hash_slice, md5_hex
from rustic_witcher_spark.functions.wordlists import (
    CITIES,
    COMPANY_SUFFIXES,
    EMAIL_DOMAINS,
    FIRST_NAMES,
    LAST_NAMES,
    STREETS,
)

_DIGITS = "0123456789"
# digit → (digit + k) % 10 for k in 1..9: nine fixed derangements of the
# digit alphabet (no digit maps to itself); k chosen by value hash.
_ROTATIONS = [_DIGITS[k:] + _DIGITS[:k] for k in range(1, 10)]


def _pick(words: list[str], idx: Column) -> Column:
    """words[idx % len] as a constant-foldable array lookup (1-based element_at).

    The wordlist becomes ONE literal-array py4j call — F.array of
    per-word lits would pay len(words) driver round-trips per use."""
    return F.element_at(F.lit(list(words)), (idx % len(words) + 1).cast("int"))


def fake_firstname(value: Column, seed: int) -> Column:
    h = md5_hex(value, seed, "firstname")
    return _pick(FIRST_NAMES, hash_slice(h, 1))


def fake_lastname(value: Column, seed: int) -> Column:
    h = md5_hex(value, seed, "lastname")
    return _pick(LAST_NAMES, hash_slice(h, 1))


def fake_name(value: Column, seed: int) -> Column:
    h = md5_hex(value, seed, "name")
    return F.concat_ws(" ", _pick(FIRST_NAMES, hash_slice(h, 1)), _pick(LAST_NAMES, hash_slice(h, 9)))


def fake_companyname(value: Column, seed: int) -> Column:
    h = md5_hex(value, seed, "company")
    return F.concat_ws(" ", _pick(LAST_NAMES, hash_slice(h, 1)), _pick(COMPANY_SUFFIXES, hash_slice(h, 9)))


def fake_email(value: Column, seed: int) -> Column:
    """``<first>.<last><n>@<domain>`` — deterministic, email-shaped."""
    h = md5_hex(value, seed, "email")
    return F.concat(
        F.lower(_pick(FIRST_NAMES, hash_slice(h, 1))),
        F.lit("."),
        F.lower(_pick(LAST_NAMES, hash_slice(h, 9))),
        (hash_slice(h, 17) % 1000).cast("string"),
        F.lit("@"),
        _pick(EMAIL_DOMAINS, hash_slice(h, 25)),
    )


def fake_address(value: Column, seed: int) -> Column:
    """``<num> <street> <zip> <city>`` (street zip city shape, SURVEY T5)."""
    h = md5_hex(value, seed, "address")
    return F.concat(
        (hash_slice(h, 1) % 9900 + 100).cast("string"),
        F.lit(" "),
        _pick(STREETS, hash_slice(h, 9)),
        F.lit(" "),
        F.lpad((hash_slice(h, 17) % 100000).cast("string"), 5, "0"),
        F.lit(" "),
        _pick(CITIES, hash_slice(h, 25)),
    )


def fake_md5(value: Column, seed: int) -> Column:
    """UUIDv4-format string (the reference's 'Md5' faker actually emits a
    UUIDv4, ref: transformator.rs:25-62 / SURVEY T5 note)."""
    h = md5_hex(value, seed, "md5")
    return F.concat(
        F.substring(h, 1, 8), F.lit("-"),
        F.substring(h, 9, 4), F.lit("-4"),
        F.substring(h, 14, 3), F.lit("-"),
        _pick(["8", "9", "a", "b"], hash_slice(h, 25)),
        F.substring(h, 18, 3), F.lit("-"),
        F.substring(h, 21, 12),
    )


def fake_phone(value: Column, seed: int) -> Column:
    """Every ASCII digit remapped by a value-selected digit derangement;
    punctuation/whitespace/length preserved; strings of length ≤ 1 kept
    as-is (ref: fake_phone_transformator.rs:14-58)."""
    k = hash_slice(md5_hex(value, seed, "phone"), 1) % len(_ROTATIONS)
    # one translate with a per-row replace string (F.translate only takes
    # literals) instead of a CASE over nine literal translates
    rot = F.element_at(F.lit(_ROTATIONS), (k + 1).cast("int"))
    remapped = F.call_function("translate", value, F.lit(_DIGITS), rot)
    return F.when(F.length(value) <= 1, value).otherwise(remapped)


def fake_multi_email(value: Column, seed: int) -> Column:
    """Postgres array literal ``{a,b,c}`` → each element replaced with a
    deterministic fake email, braces/element-count preserved; length ≤ 1
    kept (ref: fake_multi_email_transformator.rs:15-52)."""
    inner = F.regexp_replace(value, r"^\{|\}$", "")
    elems = F.split(inner, ",")
    faked = F.transform(elems, lambda e: fake_email(F.trim(e), seed))
    return F.when(F.length(value) <= 1, value).otherwise(F.concat(F.lit("{"), F.array_join(faked, ","), F.lit("}")))


def fake_email_with_id_prefix(value: Column, id_col: Column, seed: int) -> Column:
    """``"{id}-{deterministic fake email}"`` — cross-column transform
    (ref: fake_email_with_id_prefix_transformator.rs:19-62)."""
    return F.concat(id_col.cast("string"), F.lit("-"), fake_email(value, seed))
