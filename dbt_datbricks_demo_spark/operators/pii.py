"""PII detection and redaction over text columns.

A large-scale training corpus is scrubbed of obvious personally
identifiable information before use; this module implements the
detector/redactor as pure JVM regexp expressions — a single narrow scan,
zero shuffles, zero Python, so at 100 TB the cost is scan throughput.

Pattern dialect is deliberately restricted to the intersection of Java
regex (Spark) and RE2 (DuckDB/Go scanners): character classes, bounded
repetition, alternation — no backreferences, no lookaround — so the
exact same patterns run in any engine an oracle or a downstream scrubber
might use.

Redaction order matters where patterns overlap on digits: emails first
(may contain digits/dots), then IPv4 (dotted digits would otherwise be
eaten as phone fragments), then SSN (3-2-4 digits), then phone (which
would match an SSN's 3-digit prefix if run earlier).

Reference parity: not in the reference (IoT demo); part of the
training-data-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"
SSN_RE = r"[0-9]{3}-[0-9]{2}-[0-9]{4}"
PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"

# (name, pattern, placeholder) in redaction precedence order.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", EMAIL_RE, "[EMAIL]"),
    ("ipv4", IPV4_RE, "[IP]"),
    ("ssn", SSN_RE, "[SSN]"),
    ("phone", PHONE_RE, "[PHONE]"),
]


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Occurrence count per PII class, counted on the RAW text (before
    any redaction), so overlapping classes each report their own view."""
    c = F.col(col) if isinstance(col, str) else col
    return {name: F.regexp_count(c, F.lit(pat)) for name, pat, _ in PII_PATTERNS}


def redact_pii(col: Column | str) -> Column:
    """Replace every PII match with its class placeholder, applied in
    PII_PATTERNS precedence order (each replace feeds the next)."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, placeholder in PII_PATTERNS:
        c = F.regexp_replace(c, pat, placeholder)
    return c


def residual_pii_count(col: Column | str) -> Column:
    """Total PII matches remaining in a (presumably redacted) text —
    the scrub-verification metric; 0 on correctly redacted output."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.lit(0)
    for _, pat, _ in PII_PATTERNS:
        out = out + F.regexp_count(c, F.lit(pat))
    return out
