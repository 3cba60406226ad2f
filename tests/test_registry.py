"""Registry invariants that keep the driver-window rotation honest.

The driver's correctness gate only checks the FIRST 50 entries of
``registry.all_queries()`` each round, so a query registered without a
slot in that window accrues no hard evidence (VERDICT r6 item 1: the 11
late round-6 additions sat behind the window for a full round). These
tests make the rotation rule — "every query with no green driver row
sits inside the window head" — mechanical instead of prose.
"""

from __future__ import annotations

import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "tools"))

from brazilian_e_commerce_data_pipeline_analytics_spark import registry

_WINDOW = 50  # confirmed round 1: CORRECTNESS_r01.json held exactly 50 rows


def test_no_green_row_query_outside_window():
    """Every registered query lacking a green CORRECTNESS row must sit
    in the first 50 registry slots, or the next driver round cannot
    produce its first evidence (the rotation invariant from VERDICT r6
    item 1). Reads the CORRECTNESS_r*.json union exactly the way
    tools/round_checklist.py does."""
    from round_checklist import green_rows

    green, rows_only = green_rows()
    ordered = list(registry.all_queries().values())
    window = {q.name for q in ordered[:_WINDOW]}
    missing = [
        q.name
        for q in ordered[_WINDOW:]
        if q.name not in green
        and not (q.oracle is None and q.name in rows_only)
    ]
    assert not missing, (
        f"queries with no green driver row outside the {_WINDOW}-slot "
        f"window (rotate _DRIVER_WINDOW_PRIORITY): {missing}"
    )
    # sanity: the window itself is exactly filled (a short window head
    # silently hands slots to stale registration order)
    assert len(ordered) >= _WINDOW
    assert len(window) == _WINDOW


def test_priority_list_matches_registry_exactly():
    """The priority tuple must name every registered query exactly once
    and nothing else — a typo'd name would silently fall out of the
    window and a stale name would shift every slot after it."""
    names = list(registry._DRIVER_WINDOW_PRIORITY)
    assert len(names) == len(set(names)), "duplicate names in priority"
    registered = set(registry.all_queries())
    extra = [n for n in names if n not in registered]
    missing = sorted(registered - set(names))
    assert not extra, f"priority names not registered: {extra}"
    assert not missing, f"registered queries missing from priority: {missing}"


def test_below_here_marker_sits_at_slot_50():
    """The '-- below here --' comment in registry.py documents where the
    driver window ends; twice (r9, r10-planning) it drifted from the
    real boundary and mis-stated which rows were getting evidence
    (VERDICT r10 item 7). Parse the source and assert exactly
    ``_WINDOW`` query names precede it."""
    import inspect
    import re

    src = inspect.getsource(registry)
    body = re.search(
        r"_DRIVER_WINDOW_PRIORITY: tuple\[str, \.\.\.\] = \((.*?)\n\)",
        src,
        re.S,
    ).group(1)
    before_marker = body.split("below here")[0]
    names_before = re.findall(r'"(q[^"]+)"', before_marker)
    assert len(names_before) == _WINDOW, (
        f"'below here' marker sits after {len(names_before)} names, "
        f"expected exactly {_WINDOW} — move the marker or the rows"
    )


# Each portable near-dup rule has one home; builders and oracles spell it
# only through that home's Spark helper or its SQL twin, so a builder
# cannot drift from its oracle. (pattern, home, what it spells)
_PKG = os.path.join(_ROOT, "brazilian_e_commerce_data_pipeline_analytics_spark")
_ONE_PLACE_RULES = (
    ("F.substring(F.md5(", "operators/sampling.py", "the 60-bit md5 hash"),
    ("substr(md5(", "operators/sampling.py", "the 60-bit md5 hash (SQL)"),
    ('r"\\S+"', "llm/text.py", "the whitespace tokenizer"),
    ("'\\\\S+'", "llm/text.py", "the whitespace tokenizer (SQL)"),
    ("'\\\\\\\\S+'", "llm/text.py", "the whitespace tokenizer (Spark SQL)"),
    ("MIN((v % ", "llm/minhash.py", "the MinHash permutations (SQL)"),
    ("F.min(F.xxhash64(", "llm/minhash.py", "a MinHash permutation aggregate"),
)

# Spellings that differ on purpose: (module, text on the line, why)
_ONE_PLACE_EXCEPTIONS = (
    (
        "functions/python_q.py",
        "regexp_extract_all(lower(text), '\\\\S+')",
        "q311's oracle tokenizes the lowercased text",
    ),
)


def _call_args(src: str, open_paren: int) -> str:
    """The text between the parenthesis at ``open_paren`` and its match."""
    depth = 0
    for i in range(open_paren, len(src)):
        depth += {"(": 1, ")": -1}.get(src[i], 0)
        if depth == 0:
            return src[open_paren + 1 : i]
    return src[open_paren + 1 :]


def _is_60_bit(src: str, at: int, pattern: str) -> bool:
    """Whether the md5 spelling at ``at`` takes the 15-hex-char prefix
    (the 8- and 1-char prefixes of other hashes are not this rule)."""
    outer = at + pattern.index("(")
    args = " ".join(_call_args(src, outer).split())
    return args.replace(" ", "").endswith(",1,15")


def test_portable_near_dup_rules_live_in_one_place():
    """The md5-prefix hash, the ``\\S+`` tokenizer (Python, DuckDB and
    Spark SQL spellings) and the MinHash permutations (SQL, and any
    second Spark spelling such as an xxhash64 one) appear only in their
    home modules, apart from the named exceptions."""
    offenders = []
    for dirpath, _, files in os.walk(_PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, _PKG).replace(os.sep, "/")
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            for pattern, home, what in _ONE_PLACE_RULES:
                if rel == home:
                    continue
                at = src.find(pattern)
                while at != -1:
                    line_text = src[src.rfind("\n", 0, at) + 1 : src.find("\n", at)]
                    excepted = any(
                        rel == mod and text in line_text
                        for mod, text, _ in _ONE_PLACE_EXCEPTIONS
                    )
                    if not excepted and (
                        "md5(" not in pattern or _is_60_bit(src, at, pattern)
                    ):
                        line = src.count("\n", 0, at) + 1
                        offenders.append(f"{rel}:{line}: {what} belongs in {home}")
                    at = src.find(pattern, at + 1)
    assert not offenders, "\n".join(offenders)
