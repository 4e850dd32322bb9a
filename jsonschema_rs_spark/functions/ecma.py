"""ECMA-262 → Java-regex dialect handling for ``pattern`` keywords.

The reference translates ECMA regexes to the Rust dialect on the driver
(``crates/jsonschema/src/ecma.rs:8-70``) and caches compiled programs
(``keywords/pattern.rs:15-58``).  Our execution dialect is Java
(``Column.rlike`` → compiled once per task by Catalyst, which subsumes the
reference's LRU cache).  Java regex is a near-superset of ECMA for the
patterns that appear in schemas (lookarounds, named groups ``(?<n>...)``,
unicode properties ``\\p{L}`` included), so translation is a small set of
rewrites plus a compile check **against the real dialect**: the candidate
is compiled with ``java.util.regex.Pattern`` on the driver (via the active
session's JVM).  Only when Java rejects the pattern do we consider the
Python-``re`` fallback; when neither dialect compiles the caller raises a
SpecError at compile time — never at validation time (mirrors the
reference, which rejects untranslatable patterns in ``ecma.rs``).

Semantics: JSON Schema ``pattern`` is a *search* (unanchored), which matches
``rlike`` exactly.
"""

from __future__ import annotations

import re
from typing import Callable, Optional


def _java_compiles(pattern: str) -> Optional[bool]:
    """Compile ``pattern`` with java.util.regex on the driver JVM.

    Returns True/False, or None when no Spark JVM is reachable (pure-python
    unit tests) — callers then fall back to a Python-``re`` syntactic proxy.
    """
    try:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            return None
        jvm = spark._jvm  # noqa: SLF001 - driver-side dialect check
        if jvm is None:
            return None
    except Exception:
        return None
    try:
        jvm.java.util.regex.Pattern.compile(pattern)
        return True
    except Exception as exc:  # only a JVM SYNTAX rejection means False:
        # a py4j transport / connectivity error misreported as "Java
        # rejected the pattern" would raise SpecError on valid Java-only
        # patterns (named groups, \p{L}) and silently route valid patterns
        # to the slower Python fallback.
        # PySpark 4 re-raises PatternSyntaxException as its captured
        # IllegalArgumentException; raw py4j errors carry java_exception.
        names = [type(exc).__name__]
        java_exc = getattr(exc, "java_exception", None)
        if java_exc is not None:
            try:
                names.append(java_exc.getClass().getName())
            except Exception:
                return None
        if any("PatternSyntaxException" in n or "IllegalArgumentException" in n
               for n in names):
            return False
        return None  # connectivity / unknown failure, not a pattern verdict


def _translate(pattern: str) -> str:
    """Rewrite ECMA escapes with no literal Java equivalent.

    - ``\\cX`` control escapes → ``\\x{...}``
    - ``$`` / ``^`` are fine (both dialects: line anchors without MULTILINE
      behave as string anchors for our single-line values)
    - ``\\d \\w \\s`` are ASCII in ECMA; Java defaults match (no UNICODE flag)
    - ``\\uXXXX`` is valid in both
    """
    out = []
    i, n = 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "\\" and i + 1 < n:
            nxt = pattern[i + 1]
            if nxt == "c" and i + 2 < n and pattern[i + 2].isalpha():
                out.append("\\x{%02x}" % (ord(pattern[i + 2].upper()) - 64))
                i += 3
                continue
            out.append(ch)
            out.append(nxt)
            i += 2
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def ecma_to_java(pattern: str) -> str | None:
    """Translate an ECMA-262 pattern to Java regex.

    Returns the Java pattern when the driver JVM (or, without a session, a
    Python-``re`` syntactic proxy) accepts it; None when the pattern needs
    the Python-``re`` fallback.
    """
    java = _translate(pattern)
    ok = _java_compiles(java)
    if ok is True:
        return java
    if ok is False:
        return None
    # No JVM reachable: Python-re proxy.  Java accepts a superset of what
    # passes here for the constructs we emit, so this errs toward fallback.
    try:
        re.compile(java)
    except re.error:
        return None
    return java


def python_fallback(pattern: str):
    """Compiled Python ``re`` for a pattern Java rejected, else None."""
    try:
        return re.compile(pattern)
    except re.error:
        return None


def driver_regex_matcher(pattern: str) -> Callable[[str], bool]:
    """Driver-side matcher for STATIC names (struct patternProperties).

    Prefers Python ``re``; falls back to the JVM Pattern for Java-valid /
    Python-invalid dialects (named groups, ``\\p{L}``).  Raises ValueError
    when neither dialect compiles.
    """
    try:
        rx = re.compile(pattern)
        return lambda s: rx.search(s) is not None
    except re.error:
        pass
    java = _translate(pattern)
    if _java_compiles(java):
        from pyspark.sql import SparkSession

        jvm = SparkSession.getActiveSession()._jvm  # noqa: SLF001
        jpat = jvm.java.util.regex.Pattern.compile(java)
        return lambda s: bool(jpat.matcher(s).find())
    raise ValueError(f"pattern {pattern!r} compiles in neither Python re nor "
                     f"java.util.regex")
