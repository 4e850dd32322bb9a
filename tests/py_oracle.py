"""Pure-Python reference oracle implementing the keyword semantics directly
on dicts (the reference's document-at-a-time model, re-implemented minimally
for test comparison — see jsonschema-rs ``keywords/*``).

Returns the same (constraint_id, span_index, observed) triples as the Spark
engine, so fixture replay can assert exact equality independent of both
Spark and DuckDB.
"""

from __future__ import annotations

import json
import math
import re
from typing import Any

SPAN_FIELDS = ("kind", "text", "media_ref", "offset")

# Active draft dialect for a validate_doc call (test oracle is
# single-threaded; set/reset by validate_doc).  Only draft-4's stricter
# integer rule consults it today.
_DRAFT: int | None = None


def _obs(v: Any) -> str:
    if isinstance(v, dict):
        return json.dumps({k: x for k, x in v.items() if x is not None},
                          separators=(",", ":"), ensure_ascii=False)
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _multiple_of_ok(value, k) -> bool:
    """Mirror of compiler._lower_multiple_of (round 5): integer fast path,
    exact decimal remainder when divisor AND value round-trip through
    decimal(38,6), epsilon double math otherwise."""
    from decimal import Decimal

    if isinstance(value, int) and isinstance(k, int) \
            and not isinstance(value, bool):
        return value % k == 0
    from jsonschema_rs_spark.compiler import _multiple_of_decimal

    kd = _multiple_of_decimal(k)
    if kd is not None:
        try:
            xd = Decimal(repr(float(value))).quantize(Decimal("0.000001"))
        except Exception:
            xd = None
        if xd is not None and abs(xd) < Decimal(10) ** 32 \
                and float(xd) == float(value):
            return xd % kd == 0
    r = value / k
    return abs(r - round(r)) < 1e-9


def _base64_text(value: str) -> str | None:
    """The decoded text of a base64 string, None when it does not decode.
    java.util.Base64 semantics (what Spark's try_to_binary uses): padding
    optional, but when present must complete a quad; '=' only at the end;
    remainder-1 bodies invalid."""
    import base64

    body = value.rstrip("=")
    pads = len(value) - len(body)
    rem = len(body) % 4
    if (re.fullmatch(r"[A-Za-z0-9+/]*", body) is None or pads > 2
            or rem == 1 or (pads and (rem + pads) % 4)):
        return None
    raw = base64.b64decode(body + "=" * (-len(body) % 4))
    return raw.decode("utf-8", errors="replace")


def _is_valid(schema: Any, value: Any, is_root: bool = False) -> bool:
    return not _errors(schema, value, (), is_root)


def _errors(schema: Any, value: Any, path: tuple, is_root: bool = False) -> list:
    """List of (constraint_id_segments, observed) for a value vs schema.
    ``value is None`` ≡ absent ⇒ passes everything (callers handle required).
    """
    out: list = []
    if schema is True or schema == {}:
        return out
    if schema is False:
        if value is not None:
            out.append((path + ("false",), "schema is false"))
        return out
    if value is None and not is_root:
        return out

    def fail(*segs, obs=None):
        out.append((path + segs, _obs(value if obs is None else obs)))

    for kw, sval in schema.items():
        if kw == "type":
            wanted = sval if isinstance(sval, list) else [sval]
            ok = False
            for t in wanted:
                if t == "null":
                    ok |= value is None
                elif t == "string":
                    ok |= isinstance(value, str)
                elif t == "boolean":
                    ok |= isinstance(value, bool)
                elif t == "integer":
                    # draft 4: is_u64 || is_i64 only (reference
                    # legacy/type_draft_4.rs:113-114) — 1.0 is NOT integer
                    ok |= (isinstance(value, int) and not isinstance(value, bool)) or (
                        _DRAFT != 4 and isinstance(value, float)
                        and value == math.floor(value))
                elif t == "number":
                    ok |= isinstance(value, (int, float)) and not isinstance(value, bool)
                elif t == "array":
                    ok |= isinstance(value, list)
                elif t == "object":
                    ok |= isinstance(value, dict)
            if not ok:
                fail("type")
        elif kw == "enum":
            if value not in sval:
                fail("enum")
        elif kw == "const":
            if value != sval:
                fail("const")
        elif kw == "minimum":
            strict = schema.get("exclusiveMinimum") is True  # draft-4 form
            if isinstance(value, (int, float)) and (
                value <= sval if strict else value < sval
            ):
                fail("minimum")
        elif kw == "maximum":
            strict = schema.get("exclusiveMaximum") is True
            if isinstance(value, (int, float)) and (
                value >= sval if strict else value > sval
            ):
                fail("maximum")
        elif kw == "exclusiveMinimum" and not isinstance(sval, bool):
            if isinstance(value, (int, float)) and value <= sval:
                fail("exclusiveMinimum")
        elif kw == "exclusiveMaximum" and not isinstance(sval, bool):
            if isinstance(value, (int, float)) and value >= sval:
                fail("exclusiveMaximum")
        elif kw == "multipleOf":
            if isinstance(value, (int, float)):
                if not _multiple_of_ok(value, sval):
                    fail("multipleOf")
        elif kw == "minLength":
            if isinstance(value, str) and len(value) < sval:
                fail("minLength")
        elif kw == "maxLength":
            if isinstance(value, str) and len(value) > sval:
                fail("maxLength")
        elif kw == "pattern":
            if isinstance(value, str) and not re.search(sval, value):
                fail("pattern")
        elif kw == "format":
            if isinstance(value, str) and not _check_format(sval, value):
                fail("format")
        elif kw == "properties":
            if isinstance(value, dict):
                for name, sub in sval.items():
                    out.extend(_errors(sub, value.get(name), path + (name,)))
        elif kw == "patternProperties":
            if isinstance(value, dict):
                for pat, sub in sval.items():
                    for name, v in value.items():
                        if v is not None and re.search(pat, name):
                            out.extend(_errors(
                                sub, v,
                                path + ("patternProperties", pat, name)))
        elif kw == "additionalProperties":
            # present members outside properties/patternProperties
            # (round 4 — mirrors the engine's presence-gated struct path)
            if isinstance(value, dict) and (sval is False
                                            or isinstance(sval, dict)):
                named = set(schema.get("properties", {}) or {})
                pats = list(schema.get("patternProperties", {}) or {})
                for name, v in value.items():
                    if (v is None or name in named
                            or any(re.search(p, name) for p in pats)):
                        continue
                    if sval is False:
                        out.append(
                            (path + ("additionalProperties", name),
                             _obs(v)))
                    else:
                        out.extend(_errors(
                            sval, v, path + ("additionalProperties", name)))
        elif kw == "required":
            if isinstance(value, dict):
                for name in sval:
                    if value.get(name) is None:
                        out.append((path + ("required", name), "missing"))
        elif kw in ("dependentRequired", "dependentSchemas", "dependencies"):
            # draft 4-7 ``dependencies`` entries report like their 2019
            # split by form: a list of names, or a schema
            if isinstance(value, dict):
                for name, dep in sval.items():
                    if value.get(name) is None:
                        continue
                    if isinstance(dep, list):
                        if any(value.get(r) is None for r in dep):
                            out.append((path + ("dependentRequired", name),
                                        "missing"))
                    elif not _is_valid(dep, value):
                        fail("dependentSchemas", name)
        elif kw == "minItems":
            if isinstance(value, list) and len(value) < sval:
                fail("minItems", obs=len(value))
        elif kw == "maxItems":
            if isinstance(value, list) and len(value) > sval:
                fail("maxItems", obs=len(value))
        elif kw == "uniqueItems" and sval is True:
            if isinstance(value, list):
                seen = [json.dumps(v, sort_keys=True) for v in value]
                d = len(seen) - len(set(seen))
                if d:
                    fail("uniqueItems", obs=d)
        elif kw == "contains":
            if isinstance(value, list):
                cnt = sum(1 for v in value if _is_valid(sval, v))
                min_c = schema.get("minContains", 1)
                max_c = schema.get("maxContains")
                cid = ("contains" if min_c == 1 and "minContains" not in schema
                       else "minContains")
                if cnt < min_c:
                    fail(cid, obs=cnt)
                if max_c is not None and cnt > max_c:
                    fail("maxContains", obs=cnt)
        elif (kw == "items" and not isinstance(sval, list)) or (
                kw == "additionalItems"
                and isinstance(schema.get("items"), list)):
            # the tail after a tuple form: items after prefixItems,
            # additionalItems after the draft 4-2019 array form of items
            if isinstance(value, list) and isinstance(sval, (dict, bool)):
                skip = len(schema.get(
                    "prefixItems" if kw == "items" else "items", []))
                for i, v in enumerate(value):
                    if i >= skip:
                        out.extend(
                            _tag_index(_elem_errors(sval, v, path + (kw,)), i))
        elif kw == "prefixItems" or kw == "items":
            # a tuple position is named by the keyword declared
            if isinstance(value, list):
                for i, sub in enumerate(sval):
                    if i < len(value):
                        out.extend(_tag_index(
                            _elem_errors(sub, value[i], path + (kw, str(i))),
                            i))
        elif kw == "allOf":
            for i, sub in enumerate(sval):
                out.extend(_errors(sub, value, path + ("allOf", str(i))))
        elif kw == "anyOf":
            if not any(_is_valid(sub, value) for sub in sval):
                fail("anyOf")
        elif kw == "oneOf":
            if sum(1 for sub in sval if _is_valid(sub, value)) != 1:
                fail("oneOf")
        elif kw == "not":
            if _is_valid(sval, value):
                fail("not")
        elif kw == "unevaluatedProperties":
            if isinstance(value, dict) and isinstance(sval, (dict, bool)):
                # dynamic claims: annotations count only from branches that
                # actually APPLIED to this value (mirrors the engine's
                # conditional claim resolution)
                claimed: set = set()
                claims_all = [False]

                def collect(s, pregated=False):
                    if not isinstance(s, dict):
                        return
                    # round 5: claims count only from SUCCESSFUL claim
                    # keywords (annotations-from-successful-subschemas);
                    # branch sources are pregated by their validity check
                    ok = pregated
                    if not ok:
                        from jsonschema_rs_spark.compiler import \
                            _prop_claim_subset

                        subset = _prop_claim_subset(s)
                        ok = subset is None or _is_valid(subset, value)
                    if ok:
                        claimed.update(s.get("properties", {}) or {})
                        for p in (s.get("patternProperties") or {}):
                            for name in value:
                                if re.search(p, name):
                                    claimed.add(name)
                        if isinstance(s.get("additionalProperties"),
                                      (dict, bool)) or (
                            s is not schema and isinstance(
                                s.get("unevaluatedProperties"),
                                (dict, bool))
                        ):
                            claims_all[0] = True
                    for sub in s.get("allOf", []) or []:
                        collect(sub, False)
                    if isinstance(s.get("if"), (dict, bool)):
                        if _is_valid(s["if"], value):
                            collect(s["if"], True)
                            if "then" in s and _is_valid(s["then"], value):
                                collect(s["then"], True)
                        elif "else" in s and _is_valid(s["else"], value):
                            collect(s["else"], True)
                    for kw2 in ("anyOf", "oneOf"):
                        for sub in s.get(kw2, []) or []:
                            if _is_valid(sub, value):
                                collect(sub, True)
                    for k2, sub in (s.get("dependentSchemas") or {}).items():
                        if value.get(k2) is not None and _is_valid(sub, value):
                            collect(sub, True)

                collect(schema)
                if not claims_all[0]:
                    for name, v in value.items():
                        if name in claimed:
                            continue
                        out.extend(_errors(
                            sval, v, path + ("unevaluatedProperties", name)))
        elif kw == "unevaluatedItems":
            if isinstance(value, list) and isinstance(sval, (dict, bool)):
                from jsonschema_rs_spark.compiler import _items_claim_subset

                # 2020-12: a contains applied in place claims the items
                # it matches
                contains = _contains_sources(schema)
                has_contains = bool(contains)
                # round 5: node-own/allOf claims gate on claim-keyword
                # validity (mirrors _own_items_claim_sources)
                own: list = []  # (has_gate, gate_ok, nb, ab)

                def _own_walk(s):
                    if not isinstance(s, dict):
                        return
                    nb, ab = 0, False
                    it = s.get("items")
                    if isinstance(it, (dict, bool)):
                        ab = True
                    if isinstance(it, list):
                        nb = max(nb, len(it))
                    if isinstance(s.get("prefixItems"), list):
                        nb = max(nb, len(s["prefixItems"]))
                    if isinstance(s.get("additionalItems"), (dict, bool)):
                        ab = True
                    if s is not schema and isinstance(
                            s.get("unevaluatedItems"), (dict, bool)):
                        ab = True  # a nested unevaluatedItems claims all
                    if nb or ab:
                        subset = _items_claim_subset(s)
                        hg = subset is not None
                        ok = (not hg) or _is_valid(subset, value)
                        own.append((hg, ok, nb, ab))
                    for sub in s.get("allOf", []) or []:
                        _own_walk(sub)

                _own_walk(schema)
                static_all = any(ab for hg, _, _, ab in own if not hg)
                n_static = max([nb for hg, _, nb, _ in own if not hg],
                               default=0)
                gated_own = [(ok, nb, ab) for hg, ok, nb, ab in own if hg]
                gated_all = any(ab for _, _, ab in gated_own)
                # every claiming branch gates at runtime (mirrors the
                # engine: a branch may claim a position whose own/allOf
                # source failed its subset gate)
                has_branch = _has_branch_claims(schema)
                if static_all:
                    pass
                elif not gated_own and not has_branch and not has_contains:
                    # no conditional sources: static per-position path
                    for i, v in enumerate(value):
                        if i >= n_static:
                            out.extend(_tag_index(_elem_errors(
                                sval, v, path + ("unevaluatedItems",)), i))
                else:
                    # conditional claims gate on runtime branch validity;
                    # 2020-12 grants annotations only from SUCCESSFULLY
                    # validating subschemas, so then/else claims also
                    # require the branch itself to validate, and nested
                    # conditionals recurse under the composed gate
                    # (round 4 — mirrors _walk_branch_claims); round-5
                    # split: gated PREFIX-only sources keep the static
                    # fine-grained path past every claimable prefix
                    upper = None
                    if gated_own and not gated_all and not has_branch \
                            and not has_contains:
                        upper = max([n_static]
                                    + [nb for _, nb, _ in gated_own])
                        for i, v in enumerate(value):
                            if i >= upper:
                                out.extend(_tag_index(_elem_errors(
                                    sval, v,
                                    path + ("unevaluatedItems",)), i))
                    n_rt, all_rt = n_static, False
                    for ok2, nb2, ab2 in gated_own:
                        if ok2:
                            if ab2:
                                all_rt = True
                            else:
                                n_rt = max(n_rt, nb2)

                    def _apply(s):
                        nonlocal n_rt, all_rt
                        nb, ab = _claimed_positions(s, nested=True)
                        n_rt = max(n_rt, nb)
                        all_rt = all_rt or ab

                    def _walk(s, branch_root):
                        if not isinstance(s, dict):
                            return
                        if branch_root and s is not schema:
                            _apply(s)
                        if isinstance(s.get("if"), (dict, bool)):
                            if _is_valid(s["if"], value):
                                _walk(s["if"], True)
                                if (isinstance(s.get("then"), (dict, bool))
                                        and _is_valid(s["then"], value)):
                                    _walk(s["then"], True)
                            elif (isinstance(s.get("else"), (dict, bool))
                                    and _is_valid(s["else"], value)):
                                _walk(s["else"], True)
                        for kw2 in ("anyOf", "oneOf"):
                            for sub in s.get(kw2, []) or []:
                                if isinstance(sub, (dict, bool)) \
                                        and _is_valid(sub, value):
                                    _walk(sub, True)
                        for sub in s.get("allOf", []) or []:
                            _walk(sub, False)

                    if has_branch:
                        _walk(schema, False)
                    if not all_rt:
                        applied = [c for c, terms in contains
                                   if all(_is_valid(x, value) == want
                                          for want, x in terms)]
                        bad_pos = [
                            (i, v) for i, v in enumerate(value)
                            if i >= n_rt and (upper is None or i < upper)
                            and not any(_is_valid(c, v) for c in applied)
                            and not _is_valid(sval, v)]
                        if _ELEM_DEPTH == 0:
                            # per-position rows (round 4, doc scope)
                            for i, v in bad_pos:
                                out.append(
                                    (path + ("unevaluatedItems",),
                                     _obs(v), i))
                        elif bad_pos:
                            # nested inside an outer array: the engine's
                            # element-scope fallback is one node-level
                            # count row per outer element
                            out.append((path + ("unevaluatedItems",),
                                        len(bad_pos)))
        elif kw == "contentEncoding":
            if sval == "base64" and isinstance(value, str):
                if _base64_text(value) is None:
                    fail("contentEncoding")
        elif kw == "contentMediaType":
            if sval == "application/json" and isinstance(value, str):
                # draft-07: with base64 enforced the media type describes
                # the DECODED text; undecodable text is contentEncoding's
                text = (_base64_text(value)
                        if schema.get("contentEncoding") == "base64"
                        else value)
                try:
                    if text is not None:
                        json.loads(text)
                except ValueError:
                    fail("contentMediaType")
        elif kw == "propertyNames":
            # applies to PRESENT members only (absent ≡ None)
            if isinstance(value, dict):
                bad = [name for name, v in value.items()
                       if v is not None and not _is_valid(sval, name)]
                if bad:
                    fail("propertyNames", obs=",".join(bad))
        elif kw == "minProperties":
            if isinstance(value, dict):
                n = sum(1 for v in value.values() if v is not None)
                if n < sval:
                    fail("minProperties", obs=n)
        elif kw == "maxProperties":
            if isinstance(value, dict):
                n = sum(1 for v in value.values() if v is not None)
                if n > sval:
                    fail("maxProperties", obs=n)
        elif kw == "if":
            cond = _is_valid(sval, value)
            if cond and "then" in schema:
                out.extend(_errors(schema["then"], value, path + ("then",)))
            if not cond and "else" in schema:
                out.extend(_errors(schema["else"], value, path + ("else",)))
    return out


def _claimed_positions(schema: Any, nested: bool = False
                       ) -> tuple[int, bool]:
    """Static positions 'evaluated' for unevaluatedItems by the node and
    its ``allOf`` chain: max prefixItems length; object-form items claims
    all, and so does a nested ``unevaluatedItems`` (``nested=True``: the
    schema itself is applied in place below the node, so its own counts)."""
    n_prefix = 0
    all_claimed = False

    def walk(s, nested):
        nonlocal n_prefix, all_claimed
        if not isinstance(s, dict):
            return
        it = s.get("items")
        if isinstance(it, (dict, bool)):
            all_claimed = True
        if isinstance(it, list):
            n_prefix = max(n_prefix, len(it))
        if isinstance(s.get("prefixItems"), list):
            n_prefix = max(n_prefix, len(s["prefixItems"]))
        if isinstance(s.get("additionalItems"), (dict, bool)):
            all_claimed = True
        if nested and isinstance(s.get("unevaluatedItems"), (dict, bool)):
            all_claimed = True
        for sub in s.get("allOf", []) or []:
            walk(sub, True)

    walk(schema, nested)
    return n_prefix, all_claimed


def _has_branch_claims(s: Any, in_branch: bool = False) -> bool:
    """Does any if/then/else/anyOf/oneOf subschema applied in place at
    ``s`` claim array positions for an ``unevaluatedItems`` there?"""
    if not isinstance(s, dict):
        return False
    if in_branch and _claimed_positions(s, nested=True) != (0, False):
        return True
    subs = [(x, in_branch) for x in s.get("allOf", []) or []]
    if isinstance(s.get("if"), (dict, bool)):
        subs += [(s.get(k), True) for k in ("if", "then", "else")]
    subs += [(x, True) for k in ("anyOf", "oneOf")
             for x in s.get(k, []) or []]
    return any(_has_branch_claims(x, b) for x, b in subs)


def _contains_sources(s: Any, terms: tuple = ()) -> list:
    """[(contains schema, terms)] for every ``contains`` applied in place
    at ``s``: its own, its ``allOf`` chain's, and those of the
    if/then/else and anyOf/oneOf branches.  ``terms`` are the (expected
    validity, schema) pairs under which the branch applies."""
    if not isinstance(s, dict):
        return []
    out = ([(s["contains"], terms)]
           if isinstance(s.get("contains"), (dict, bool)) else [])
    for sub in s.get("allOf") or []:
        out += _contains_sources(sub, terms)
    if isinstance(s.get("if"), (dict, bool)):
        out += _contains_sources(s["if"], terms + ((True, s["if"]),))
        for kw, want in (("then", True), ("else", False)):
            if isinstance(s.get(kw), (dict, bool)):
                out += _contains_sources(
                    s[kw], terms + ((want, s["if"]), (True, s[kw])))
    for kw in ("anyOf", "oneOf"):
        for sub in s.get(kw) or []:
            out += _contains_sources(sub, terms + ((True, sub),))
    return out


def _tag_index(errs: list, i: int) -> list:
    # tolerate already-indexed 3-tuples (per-position rows keep their own
    # inner index; the outer tag applies to plain 2-tuples only)
    return [item if len(item) == 3 else (item[0], item[1], i)
            for item in errs]


# >0 while recursing into array ELEMENTS: a conditional-unevaluatedItems
# node nested inside an outer array mirrors the engine's element-scope
# fallback (one node-level count row per outer element), while a top-level
# one emits per-position rows
_ELEM_DEPTH = 0


def _elem_errors(sub, v, path: tuple) -> list:
    global _ELEM_DEPTH
    _ELEM_DEPTH += 1
    try:
        return _errors(sub, v, path)
    finally:
        _ELEM_DEPTH -= 1


def _check_format(fmt: str, v: str) -> bool:
    import ipaddress
    from datetime import date

    from jsonschema_rs_spark.functions import formats as FM

    if fmt == "ipv4":
        try:
            ipaddress.IPv4Address(v)
            return True
        except ValueError:
            return False
    if fmt == "ipv6":
        try:
            ipaddress.IPv6Address(v)
            return True
        except ValueError:
            return False
    if fmt == "date":
        try:
            date.fromisoformat(v)
            return len(v) == 10
        except ValueError:
            return False
    if fmt == "regex":
        try:
            re.compile(v)
            return True
        except re.error:
            return False
    if fmt == "duration":
        return (bool(re.search(FM._DURATION_RE, v)) and v != "P"
                and not v.endswith("T"))
    if fmt == "hostname":
        return len(v) <= 253 and bool(re.search(FM._HOSTNAME_RE, v))
    def _leap_ok(hh, mm, ss, off):
        if ss != "60":
            return True
        if off.upper() == "Z":
            offmin = 0
        else:
            offmin = (1 if off[0] == "+" else -1) * (
                int(off[1:3]) * 60 + int(off[4:6]))
        return (int(hh) * 60 + int(mm) - offmin) % 1440 == 23 * 60 + 59

    if fmt == "date-time":
        if not re.search(FM._DATETIME_RE, v):
            return False
        try:
            date.fromisoformat(v[:10])
        except ValueError:
            return False
        m = re.search(r"[Tt](\d{2}):(\d{2}):(\d{2})", v)
        o = re.search(r"([Zz]|[+-]\d{2}:\d{2})$", v)
        return _leap_ok(m.group(1), m.group(2), m.group(3), o.group(1))
    if fmt == "time":
        if not re.search(FM._TIME_RE, v):
            return False
        o = re.search(r"([Zz]|[+-]\d{2}:\d{2})$", v)
        return _leap_ok(v[0:2], v[3:5], v[6:8], o.group(1))
    if fmt in ("email", "idn-email"):
        # mirror the engine's structural check: shared grammar regex +
        # RFC 5321 length limits (local 1..64, total <= 254); the local
        # part is everything before the LAST '@'
        rx = FM._EMAIL_RE if fmt == "email" else FM._IDN_EMAIL_RE
        local_len = len(v) - len(v.rsplit("@", 1)[-1]) - 1
        return (bool(re.search(rx, v)) and len(v) <= 254
                and not re.search(FM._EMAIL_CTRL_RE, v)
                and 1 <= local_len <= 64)
    rx = {
        "uuid": FM._UUID_RE,
        "json-pointer": FM._JSON_POINTER_RE,
        "relative-json-pointer": FM._REL_JSON_POINTER_RE,
        "uri": FM._URI_RE,
        "uri-reference": FM._URI_REF_RE,
    }.get(fmt)
    if rx is not None:
        return bool(re.search(rx, v))
    return True


def _sniff_draft_uri(schema) -> int | None:
    uri = schema.get("$schema", "") if isinstance(schema, dict) else ""
    for tag, n in (("draft-04", 4), ("draft-06", 6), ("draft-07", 7),
                   ("2019-09", 2019), ("2020-12", 2020)):
        if tag in uri:
            return n
    return None


# The keywords each draft does not define: there they are annotations,
# so the oracle drops them.  The merged dialect (no ``$schema``) defines
# every keyword.  Kept apart from the engine's own table on purpose.
_SINCE_2019 = frozenset((
    "dependentRequired", "dependentSchemas", "unevaluatedProperties",
    "unevaluatedItems", "minContains", "maxContains"))
_CONTENT = frozenset(("contentEncoding", "contentMediaType"))
_UNDEFINED = {
    4: _SINCE_2019 | _CONTENT | {"const", "contains", "propertyNames", "if"},
    6: _SINCE_2019 | _CONTENT | {"if"},
    7: _SINCE_2019,
    2019: _CONTENT,
    2020: _CONTENT,
}
# keywords whose value maps names to schemas, and keywords whose value is
# a schema or a list of schemas
_NAMED_SCHEMAS = ("properties", "patternProperties", "$defs", "definitions",
                  "dependentSchemas", "dependencies")
_SUBSCHEMAS = ("items", "prefixItems", "additionalItems", "unevaluatedItems",
               "contains", "additionalProperties", "unevaluatedProperties",
               "propertyNames", "allOf", "anyOf", "oneOf", "not", "if",
               "then", "else")


def _in_draft(schema: Any, undefined: frozenset) -> Any:
    """``schema`` without the ``undefined`` keywords, at schema positions
    only (never inside ``enum``/``const`` values or member names)."""
    if not isinstance(schema, dict):
        return schema
    out = {}
    for kw, v in schema.items():
        if kw in undefined:
            continue
        if kw in _NAMED_SCHEMAS and isinstance(v, dict):
            v = {k: _in_draft(x, undefined) for k, x in v.items()}
        elif kw in _SUBSCHEMAS:
            v = ([_in_draft(x, undefined) for x in v] if isinstance(v, list)
                 else _in_draft(v, undefined))
        out[kw] = v
    return out


def validate_doc(schema: dict, data: dict, draft: int | None = None):
    """(valid, violations) for one document; violations are
    (doc_id, constraint_id, span_index, observed) matching the engine."""
    from jsonschema_rs_spark.spec import resolve_refs

    global _DRAFT
    _DRAFT = draft if draft is not None else _sniff_draft_uri(schema)
    try:
        schema = resolve_refs(schema, draft=_DRAFT)
        schema = _in_draft(schema, _UNDEFINED.get(_DRAFT, frozenset()))
        raw = _errors(schema, data, (), is_root=True)
    finally:
        _DRAFT = None
    viols = []
    for item in raw:
        if len(item) == 3:
            segs, obs, idx = item
        else:
            (segs, obs), idx = item, None
        viols.append((data["doc_id"], "/".join(segs), idx, str(obs)))
    return (not viols), sorted(viols, key=lambda t: (t[1], t[2] or -1))
