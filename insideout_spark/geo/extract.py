"""Deterministic coordinate extraction from web-page text.

Per BASELINE.json input_hint, pages carry coordinates embedded in their
text (FIXTURES.md §1: a ``geo:{lat},{lng}`` token). Extraction must be
byte-identical per url across runs — so it is a pure function of the
text bytes: first ``geo:`` token wins, signed decimals in ASCII digits,
no exponent, no locale, each parsed by Spark's correctly rounded string
to double cast (`sources.pages.extract_points`). This plays the role of
the reference loadtester's point source (cmd/loadtester/main.go:106-107),
made deterministic.
"""

from __future__ import annotations

# The oracles' `geo:([-+]?\d+(?:\.\d+)?),...` spelled with classes instead
# of escapes (Java's and RE2's \d are ASCII-only, so both match the same
# tokens). With no backslash and no quote in it, a plain SQL string
# literal carries it unchanged whatever
# `spark.sql.parser.escapedStringLiterals` says; a raw r'...' literal
# does not (with the setting on, Spark 4.1 reads r'a' as "'a").
GEO_RE = "geo:([-+]?[0-9]+(?:[.][0-9]+)?),([-+]?[0-9]+(?:[.][0-9]+)?)"


def extract_text_from_html(html: bytes) -> str:
    """Byte-deterministic text extraction from the fixture html shape
    (``<html><body>TEXT</body></html>``). Kept intentionally trivial and
    pure so the per-url byte-identical invariant holds."""
    s = html.decode("utf-8")
    start = s.find("<body>")
    end = s.rfind("</body>")
    if start == -1 or end == -1:
        return s
    return s[start + len("<body>") : end]
