"""Built-in ``format`` checks, vectorized.

The reference ships 19 built-in string formats with hand-rolled parsers
(``crates/jsonschema/src/keywords/format.rs:660-812``).  Here each format is
either (a) a pure Column predicate — regex and/or ``try_to_date``-family, so
it stays inside whole-stage codegen — or (b) an Arrow-batched pandas UDF
(one Python crossing per batch, the analogue of the reference's single FFI
crossing per call) for formats that genuinely need a parser (ipv6, idn-*,
regex-compilability).

Custom formats (reference ``options.rs:335-358``) are per compile:
``EngineOptions.custom_formats`` maps a name to a string-Column ->
boolean-Column builder and overrides a built-in of the same name.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

# ---------------------------------------------------------------- regexes

_DATE_RE = r"^\d{4}-\d{2}-\d{2}$"
_TIME_RE = (
    r"^([01]\d|2[0-3]):[0-5]\d:([0-5]\d|60)(\.\d+)?"
    r"([Zz]|[+-]([01]\d|2[0-3]):[0-5]\d)$"
)
_DATETIME_RE = (
    r"^\d{4}-\d{2}-\d{2}[Tt]([01]\d|2[0-3]):[0-5]\d:([0-5]\d|60)(\.\d+)?"
    r"([Zz]|[+-]([01]\d|2[0-3]):[0-5]\d)$"
)
_DURATION_RE = (
    r"^P(\d+W|(\d+Y)?(\d+M)?(\d+D)?(T(\d+H)?(\d+M)?(\d+(\.\d+)?S)?)?)$"
)
_HOSTNAME_BODY = (
    r"(([a-zA-Z0-9]|[a-zA-Z0-9][a-zA-Z0-9-]{0,61}[a-zA-Z0-9])\.)*"
    r"([a-zA-Z0-9]|[a-zA-Z0-9][a-zA-Z0-9-]{0,61}[a-zA-Z0-9])"
)
_HOSTNAME_RE = rf"^{_HOSTNAME_BODY}$"
# RFC 5321/5322 email, parsed structurally like the reference's
# EmailAddress-crate check (format.rs:290-315): local part is a dot-atom
# (no leading/trailing/double dots) OR a quoted string with \-escapes
# (so '"joe bloggs"@x.org' and '"a@b"@x.org' are valid), domain is a
# hostname or a bracketed address literal with a REAL IPv4 / IPv6-tagged
# body.  Length limits (local <= 64 octets, total <= 254) are Column
# length predicates next to the regex.  One shared regex string keeps the
# Spark rlike and the pure-Python oracle bit-identical.
_EMAIL_LOCAL = (
    r"[A-Za-z0-9!#$%&'*+/=?^_`{|}~-]+"
    r"(\.[A-Za-z0-9!#$%&'*+/=?^_`{|}~-]+)*"
)
_EMAIL_QUOTED = r'"([^"\\]|\\.)*"'
_IPV4_BODY = r"((25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
# structural IPv6: bounded group counts with a single optional '::' and an
# optional embedded-IPv4 tail — the regex mirror of the reference's real
# Ipv6Addr parse of the literal body (format.rs:290-307); rejects
# 'IPv6:1:::2' and 9-group addresses that a loose charset check admitted
_IPV6SEG = r"[0-9A-Fa-f]{1,4}"
_IPV6_BODY = (
    rf"({_IPV6SEG}:){{7}}{_IPV6SEG}"
    rf"|({_IPV6SEG}:){{1,7}}:"
    rf"|({_IPV6SEG}:){{1,6}}:{_IPV6SEG}"
    rf"|({_IPV6SEG}:){{1,5}}(:{_IPV6SEG}){{1,2}}"
    rf"|({_IPV6SEG}:){{1,4}}(:{_IPV6SEG}){{1,3}}"
    rf"|({_IPV6SEG}:){{1,3}}(:{_IPV6SEG}){{1,4}}"
    rf"|({_IPV6SEG}:){{1,2}}(:{_IPV6SEG}){{1,5}}"
    rf"|{_IPV6SEG}:(:{_IPV6SEG}){{1,6}}"
    rf"|:((:{_IPV6SEG}){{1,7}}|:)"
    # embedded-IPv4 tails: (groups before ::) + (groups after ::) <= 5,
    # enumerated per before-count so the total-8-group budget stays exact
    # (Ipv6Addr::from_str accepts e.g. 1:2:3:4:5::6.7.8.9 and
    # 64::ff9b:1.2.3.4)
    rf"|::({_IPV6SEG}:){{0,5}}{_IPV4_BODY}"
    rf"|({_IPV6SEG}:){{1}}:({_IPV6SEG}:){{0,4}}{_IPV4_BODY}"
    rf"|({_IPV6SEG}:){{2}}:({_IPV6SEG}:){{0,3}}{_IPV4_BODY}"
    rf"|({_IPV6SEG}:){{3}}:({_IPV6SEG}:){{0,2}}{_IPV4_BODY}"
    rf"|({_IPV6SEG}:){{4}}:({_IPV6SEG}:){{0,1}}{_IPV4_BODY}"
    rf"|({_IPV6SEG}:){{5}}:{_IPV4_BODY}"
    rf"|({_IPV6SEG}:){{6}}{_IPV4_BODY}"
)
_EMAIL_LITERAL = rf"\[(IPv6:({_IPV6_BODY})|{_IPV4_BODY})\]"
_EMAIL_RE = (rf"^({_EMAIL_LOCAL}|{_EMAIL_QUOTED})"
             rf"@({_HOSTNAME_BODY}|{_EMAIL_LITERAL})$")
# idn-email: the same grammar with atext / hostname label characters
# extended to non-ASCII (U-labels stay in Unicode form; the punycoded
# 63-octet label cap applies to A-labels and is not enforced here)
_IDN_ATEXT = r"([A-Za-z0-9!#$%&'*+/=?^_`{|}~-]|[^\x00-\x7f])"
_IDN_LOCAL = rf"{_IDN_ATEXT}+(\.{_IDN_ATEXT}+)*"
_IDN_LABEL = (r"([A-Za-z0-9]|[^\x00-\x7f])"
              r"(([A-Za-z0-9-]|[^\x00-\x7f])*([A-Za-z0-9]|[^\x00-\x7f]))?")
_IDN_EMAIL_RE = (rf"^({_IDN_LOCAL}|{_EMAIL_QUOTED})"
                 rf"@({_IDN_LABEL}(\.{_IDN_LABEL})*|{_EMAIL_LITERAL})$")
_EMAIL_CTRL_RE = r"[\x00-\x1f\x7f]"
_IPV4_RE = r"^((25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)$"
_UUID_RE = r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
# scheme : hier-part — reject whitespace and RFC 3986-excluded characters
_URI_RE = r'^[a-zA-Z][a-zA-Z0-9+.-]*:[^\s<>"{}|\\^`]*$'
_URI_REF_RE = r"^[^\s]*$"
_URI_TEMPLATE_RE = r"^([^\x00-\x20\x7f\"'%<>\\^`{|}]|%[0-9a-fA-F]{2}|\{[+#./;?&=,!@|]?((\w|%[0-9a-fA-F]{2})(\.?(\w|%[0-9a-fA-F]{2}))*(:[1-9]\d{0,3}|\*)?)(,((\w|%[0-9a-fA-F]{2})(\.?(\w|%[0-9a-fA-F]{2}))*(:[1-9]\d{0,3}|\*)?))*\})*$"
_JSON_POINTER_RE = r"^(/([^/~]|~[01])*)*$"
_REL_JSON_POINTER_RE = r"^(0|[1-9][0-9]*)(#|(/([^/~]|~[01])*)*)$"


def _rx(pattern: str) -> Callable[[Column], Column]:
    return lambda c: c.rlike(pattern)


def _date(c: Column) -> Column:
    # regex gates shape; try_to_date validates the calendar (leap days etc.)
    return c.rlike(_DATE_RE) & F.try_to_date(c, "yyyy-MM-dd").isNotNull()


def _offset_minutes(off: Column) -> Column:
    """Signed minutes for a ``Z``/``±hh:mm`` offset string."""
    return F.when(F.upper(off) == "Z", F.lit(0)).otherwise(
        F.when(F.substring(off, 1, 1) == "+", F.lit(1)).otherwise(F.lit(-1))
        * (
            F.substring(off, 2, 2).cast("int") * 60
            + F.substring(off, 5, 2).cast("int")
        )
    )


def _leap_second_ok(hh: Column, mm: Column, ss: Column, off: Column) -> Column:
    """RFC 3339 / reference semantics (``format.rs:96-288``): seconds ``60``
    is a leap second, valid ONLY when the offset-adjusted time of day is
    exactly 23:59:60 UTC."""
    utc_min = F.pmod(hh.cast("int") * 60 + mm.cast("int")
                     - _offset_minutes(off), F.lit(1440))
    return (ss != "60") | (utc_min == 1439)


def _datetime(c: Column) -> Column:
    """Calendar-correct date-time: regex shape + real calendar date (rejects
    2024-02-30) + leap-second rule — all Column algebra, codegen-side."""
    shape = c.rlike(_DATETIME_RE)
    cal = F.try_to_date(F.substring(c, 1, 10), "yyyy-MM-dd").isNotNull()
    hh = F.regexp_extract(c, r"[Tt](\d{2})", 1)
    mm = F.regexp_extract(c, r"[Tt]\d{2}:(\d{2})", 1)
    ss = F.regexp_extract(c, r"[Tt]\d{2}:\d{2}:(\d{2})", 1)
    off = F.regexp_extract(c, r"([Zz]|[+-]\d{2}:\d{2})$", 1)
    return shape & cal & _leap_second_ok(hh, mm, ss, off)


def _time(c: Column) -> Column:
    shape = c.rlike(_TIME_RE)
    hh = F.substring(c, 1, 2)
    mm = F.substring(c, 4, 2)
    ss = F.substring(c, 7, 2)
    off = F.regexp_extract(c, r"([Zz]|[+-]\d{2}:\d{2})$", 1)
    return shape & _leap_second_ok(hh, mm, ss, off)


# ------------------------------------------------------- pandas-UDF formats

@F.pandas_udf(BooleanType())
def _ipv6_udf(s: pd.Series) -> pd.Series:
    import ipaddress

    def ok(v):
        if v is None:
            return None
        try:
            ipaddress.IPv6Address(v)
            return True
        except ValueError:
            return False

    return s.map(ok)


@F.pandas_udf(BooleanType())
def _regex_format_udf(s: pd.Series) -> pd.Series:
    import re as _re

    def ok(v):
        if v is None:
            return None
        try:
            _re.compile(v)
            return True
        except _re.error:
            return False

    return s.map(ok)


@F.pandas_udf(BooleanType())
def _idn_hostname_udf(s: pd.Series) -> pd.Series:
    def ok(v):
        if v is None:
            return None
        try:
            v.encode("idna")
            return True
        except (UnicodeError, IndexError):
            return False

    return s.map(ok)


def _email_shape(c: Column, rx: str) -> Column:
    """Structural email check: grammar regex + RFC 5321 length limits
    (local part 1..64, whole address <= 254).  The local part is everything
    before the LAST '@' — a quoted local part may itself contain '@'.
    Control characters are rejected explicitly: both regex dialects let an
    unescaped ``$`` match before a trailing newline, so the anchor alone
    would accept 'joe@x.org\\n' (the reference's parser rejects it)."""
    local_len = F.length(c) - F.length(F.substring_index(c, "@", -1)) - 1
    return (
        c.rlike(rx)
        & ~c.rlike(_EMAIL_CTRL_RE)
        & (F.length(c) <= 254)
        & (local_len >= 1)
        & (local_len <= 64)
    )


# ---------------------------------------------------------------- registry

FORMATS: dict[str, Callable[[Column], Column]] = {
    "date": _date,
    "date-time": _datetime,
    "time": _time,
    "duration": lambda c: c.rlike(_DURATION_RE) & (c != F.lit("P")) & ~c.endswith("T"),
    "email": lambda c: _email_shape(c, _EMAIL_RE),
    # idn-email: same structural grammar with non-ASCII atext / U-labels
    "idn-email": lambda c: _email_shape(c, _IDN_EMAIL_RE),
    "hostname": lambda c: (F.length(c) <= 253) & c.rlike(_HOSTNAME_RE),
    "idn-hostname": lambda c: _idn_hostname_udf(c),
    "ipv4": _rx(_IPV4_RE),
    "ipv6": lambda c: _ipv6_udf(c),
    "uri": _rx(_URI_RE),
    "uri-reference": _rx(_URI_REF_RE),
    "iri": _rx(_URI_RE),
    "iri-reference": _rx(_URI_REF_RE),
    "uri-template": _rx(_URI_TEMPLATE_RE),
    "uuid": _rx(_UUID_RE),
    "json-pointer": _rx(_JSON_POINTER_RE),
    "relative-json-pointer": _rx(_REL_JSON_POINTER_RE),
    "regex": lambda c: _regex_format_udf(c),
}


# plain-python element checks for the UDF-backed formats: HOF-based plans
# stage these via an array adapter (Python UDFs are banned inside lambdas)
def _py_ipv6(v: str) -> bool:
    import ipaddress

    try:
        ipaddress.IPv6Address(v)
        return True
    except ValueError:
        return False


def _py_regex(v: str) -> bool:
    import re as _re

    try:
        _re.compile(v)
        return True
    except _re.error:
        return False


def _py_idn_hostname(v: str) -> bool:
    try:
        v.encode("idna")
        return True
    except (UnicodeError, IndexError):
        return False


FORMATS_PY: dict[str, Callable[[str], bool]] = {
    "ipv6": _py_ipv6,
    "regex": _py_regex,
    "idn-hostname": _py_idn_hostname,
}
