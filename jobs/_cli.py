"""Shared argparse types and input helpers for the job entrypoints
(corpus_job / stats_job)."""

from __future__ import annotations

import argparse
import pathlib


def band_type(s: str) -> tuple[float, float]:
    """``LO:HI`` → (lo, hi), validated at PARSE time: a malformed band must
    fail as an argparse error naming the flag, not a bare unpack ValueError
    after the Spark session is already up."""
    parts = s.split(":")
    try:
        lo, hi = (float(x) for x in parts)
    except ValueError:
        raise argparse.ArgumentTypeError(
            f"expected LO:HI (two floats, e.g. 0.2:0.95), got {s!r}")
    if not 0.0 <= lo <= hi:
        raise argparse.ArgumentTypeError(
            f"need 0 <= LO <= HI, got {s!r}")
    return (lo, hi)


def langs_type(s: str) -> tuple[str, ...]:
    """``en,fr`` → ('en', 'fr'), validated at PARSE time: a list with no
    code left after splitting on commas must fail as an argparse error, not
    turn the language gate off (``None``) or reach it as an empty tuple
    that the gate refuses only after the input has been read."""
    langs = tuple(c.strip() for c in s.split(",") if c.strip())
    if not langs:
        raise argparse.ArgumentTypeError(
            f"expected comma-separated language codes (e.g. en or en,fr), "
            f"got {s!r}")
    return langs


def read_lines(path: str) -> list[str]:
    """The non-blank lines of a text file, stripped (domain lists and
    flagged-token wordlists)."""
    return [ln.strip() for ln in
            pathlib.Path(path).read_text().splitlines() if ln.strip()]
