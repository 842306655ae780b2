"""Property-based tests (hypothesis) for the semantic kernels.

The reference has no property tests (SURVEY.md §5); these guard the
invariants the distributed engine leans on.
"""

import string

from hypothesis import given, settings, strategies as st

from kit_spark.kit_py.robots import Robots, Rule, WildcardError, normalize_path
from kit_spark.kit_py.urls import parse_url_str

path_chars = st.text(
    alphabet=string.ascii_letters + string.digits + "/._-~%?#=& *$",
    min_size=0, max_size=40)
url_texts = st.text(alphabet=string.printable, min_size=0, max_size=80)


@given(path_chars)
@settings(max_examples=300, deadline=None)
def test_normalize_path_idempotent(path):
    once = normalize_path(path)
    assert normalize_path(once) == once
    assert once.startswith("/")


@given(url_texts)
@settings(max_examples=300, deadline=None)
def test_canonicalize_idempotent_and_total(raw):
    # never raises; canonical output is a fixed point
    canon = parse_url_str(raw)
    if canon is not None:
        assert parse_url_str(canon) == canon


@given(st.binary(max_size=400))
@settings(max_examples=200, deadline=None)
def test_robots_parse_total(body):
    # any byte soup parses without raising and yields a usable ruleset
    robots = Robots.from_bytes(body, "kitbot")
    assert robots.is_allowed("/anything") in (True, False)
    assert robots.is_allowed("/robots.txt") in (True, False)


@given(path_chars, path_chars)
@settings(max_examples=300, deadline=None)
def test_rule_gate_consistency(pattern, path):
    # a matching Allow rule and the same Disallow rule are mirror images;
    # the compiled matcher never raises on any path
    try:
        allow_rule = Rule.new(pattern, True)
        deny_rule = Rule.new(pattern, False)
    except WildcardError:
        return
    npath = normalize_path(path)
    assert allow_rule.is_match(npath) == deny_rule.is_match(npath)


@given(st.lists(st.tuples(path_chars, st.booleans()), max_size=8), path_chars)
@settings(max_examples=200, deadline=None)
def test_first_match_equals_longest_match(rules_spec, path):
    """The engine's sorted-first-match scan must equal the spec's
    'longest matching rule, allow wins ties' formulation (RFC 9309 §2.2.2 /
    Google spec) — the reason the compile-time sort is correct."""
    from kit_spark.kit_py.robots import sort_rules

    rules = []
    for pattern, allow in rules_spec:
        try:
            rules.append(Rule.new(pattern, allow))
        except WildcardError:
            continue
    npath = normalize_path(path)
    matches = [r for r in rules if r.is_match(npath)]
    if matches:
        best_len = max(len(r.pattern) for r in matches)
        best = [r for r in matches if len(r.pattern) == best_len]
        expected = any(r.allow for r in best)  # allow wins ties
    else:
        expected = None
    scan = next((r.allow for r in sort_rules(rules) if r.is_match(npath)), None)
    assert scan == expected


idn_host_chars = st.text(
    alphabet="abcz09üöäßéñ日本語中.-%4A", min_size=1, max_size=24)


@given(idn_host_chars, path_chars)
@settings(max_examples=300, deadline=None)
def test_idn_canonicalize_total_idempotent_ascii(host, path):
    """The IDN/percent-decoding host path never raises, is a fixed point,
    and any accepted host is pure ASCII (punycoded)."""
    raw = f"https://{host}/{path.lstrip('/')}"
    canon = parse_url_str(raw)
    if canon is not None:
        assert parse_url_str(canon) == canon
        authority = canon.split("://", 1)[1].split("/", 1)[0]
        assert authority.isascii(), canon


# hostile URL text: spaces, quotes, angle brackets, backslashes,
# non-ASCII paths and IDN hosts (the chars the path normalizer encodes);
# half the paths are otherwise-clean ASCII with ONE hostile char, so the
# canonicalizer's regex fast path sees them too
hostile_chars = " \"<>\\`{|}^[]%\tüé日本"
safe_path = st.text(alphabet=string.ascii_letters + string.digits +
                    "/._-~!$&'()*+,;=:@", max_size=20)
hostile_urls = st.builds(
    lambda scheme, host, sep, path: f"{scheme}{host}{sep}{path}",
    st.sampled_from(["http://", "https://", "HTTPS://", "http:\\\\",
                     " https://", "ftp://", ""]),
    st.one_of(idn_host_chars,
              st.from_regex(r"[a-z0-9]{1,8}(\.[a-z]{2,4})?", fullmatch=True)),
    st.sampled_from(["/", "/", "/", ":8080/", "?", "#", "", " "]),
    st.one_of(
        st.text(alphabet=string.printable + hostile_chars, max_size=40),
        st.builds(lambda a, c, b: a + c + b, safe_path,
                  st.sampled_from(hostile_chars), safe_path)))


@given(st.lists(hostile_urls, min_size=1, max_size=16))
@settings(max_examples=300, deadline=None)
def test_canonical_match_path_needs_no_gate_normalization(raws):
    """The robots gate matches canonical paths as-is (no re-normalization),
    so every match_path the canonicalizer emits must be a fixed point of
    normalize_path, and must equal the path the crawl re-derives JVM-side
    from url_canon (derive_host_and_path strips ``^[a-z]+://[^/]*``)."""
    import re

    import pandas as pd

    from kit_spark.functions.canon import canonicalize_batch

    out = canonicalize_batch(pd.Series(raws, dtype=object))
    for raw, canon, path in zip(raws, out["url_canon"], out["match_path"]):
        if not isinstance(canon, str):
            continue
        assert normalize_path(path) == path, (raw, path)
        assert re.sub(r"^[a-z]+://[^/]*", "", canon) == path, (raw, canon)
