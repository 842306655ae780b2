"""robots.txt (URL-exclusion, RFC 9309 + Google extensions) semantic core.

Pure-Python, dependency-free reimplementation of the behavior of the
reference's ``robotxt`` crate (spire-rs/kit, ``exclusion/``).  This module is
used in two ways:

1. as the inner kernel of the vectorized robots-compile / robots-match pandas
   UDFs (``kit_spark.functions.robots_udfs``) — one call per robots.txt
   document (documents are <=512,000 bytes, so per-doc Python is fine; the
   *matching* hot path operates on precompiled rule lists), and
2. as part of the single-threaded oracle crawler used to verify the Spark
   engine's crawl ordering and URL-seen set.

Behavioral parity notes (reference citations refer to /root/reference):

* byte limit + NUL rewrite:      exclusion/parse/inner.rs:36-48
* BOM strip:                     exclusion/parse/lexer.rs:80-83
* directive lexer + misspellings exclusion/parse/lexer.rs:100-198
* empty-Disallow -> Allow "/":   exclusion/parse/lexer.rs:135-142
* UA group selection:            exclusion/parse/parser.rs:47-68
* group state machine:           exclusion/parse/parser.rs:71-111
* crawl-delay min fold:          exclusion/parse/parser.rs:99-111
* sitemap collection (global):   exclusion/parse/parser.rs:114-120
* rule sort (len desc,allow desc)exclusion/parse/parser.rs:39-42, rule.rs:216-221
* wildcard classification:       exclusion/parse/rule.rs:31-74
* wildcard matching:             exclusion/parse/rule.rs:77-112
* precedence + /robots.txt:      exclusion/parse/inner.rs:92-110
* optimal collapse:              exclusion/parse/inner.rs:62-78
* access-result semantics:       exclusion/parse/access.rs:8-51, parse/mod.rs:144-151

Known deviations (documented, none affect our test corpus):
* The Rust ``regex`` 42 KiB size limit (rule.rs:68-71) is enforced here on
  the *translated regex source* bytes rather than the compiled-program
  size (Python exposes no compiled-size metric); either way a pathological
  ``*``+``$`` pattern large enough to trip Rust's cap is dropped, and an
  adversarial robots.txt cannot plant an unbounded regex in the gate.
* ``$`` in the combined wildcard regex is translated to ``\\Z`` because
  Python's ``$`` also matches before a trailing newline while Rust's does not.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional

BYTE_LIMIT = 512_000  # exclusion/paths/mod.rs:9 (Google's 500 KiB rule)
ALL_UAS = "*"  # exclusion/parse/mod.rs:34

# --- path normalization (exclusion/paths/normal.rs:7-20) --------------------

# percent-encode CONTROLS (0x00-0x1F, 0x7F) + ' ' '"' '<' '>' ; bytes >= 0x80
# are always percent-encoded by the percent-encoding crate.
_ENCODE_BYTE = [
    b < 0x20 or b == 0x7F or b in (0x20, 0x22, 0x3C, 0x3E) or b >= 0x80
    for b in range(256)
]
_HEX = "0123456789ABCDEF"


def normalize_path(path: str) -> str:
    """Prefixed & percent-encoded path (exclusion/paths/normal.rs:7-20)."""
    raw = path.encode("utf-8")
    if not any(_ENCODE_BYTE[b] for b in raw):
        out = path
    else:
        parts = []
        for b in raw:
            if _ENCODE_BYTE[b]:
                parts.append("%" + _HEX[b >> 4] + _HEX[b & 15])
            else:
                parts.append(chr(b))
        out = "".join(parts)
    if not out.startswith("/"):
        out = "/" + out
    return out


# --- lexer (exclusion/parse/lexer.rs) ---------------------------------------

# Directive kinds.
UA, ALLOW, DISALLOW, CRAWL_DELAY, SITEMAP, UNKNOWN = range(6)

# Spelling tables, tried in order (exclusion/parse/lexer.rs:103-171).
_SPELLINGS = (
    (UA, ("user-agent", "user agent", "useragent")),
    (ALLOW, ("allow", "alow", "allaw")),
    (
        DISALLOW,
        ("disallow", "dissallow", "dissalow", "disalow", "diasllow", "disallaw"),
    ),
    (CRAWL_DELAY, ("crawl-delay", "crawl delay", "crawldelay")),
    (SITEMAP, ("sitemap", "site-map", "site map")),
)

_SPACE = (" ", "\t")  # nom space0/space1 match space and tab only


def _lex_line(line: str) -> tuple[int, str]:
    """Lex one physical line into (kind, value).

    Mirrors the per-directive nom parser (lexer.rs:174-198): optional spaces,
    case-insensitive spelling, then ``:`` (with optional surrounding spaces)
    or at least one space, then the value up to ``#``/EOL, trimmed.
    Any failure backtracks to Unknown (whole line).
    """
    i = 0
    n = len(line)
    while i < n and line[i] in _SPACE:
        i += 1
    low = line.lower()
    for kind, spellings in _SPELLINGS:
        for sp in spellings:
            if not low.startswith(sp, i):
                continue
            j = i + len(sp)
            # separator: space0 ':'  |  space1
            k = j
            while k < n and line[k] in _SPACE:
                k += 1
            if k < n and line[k] == ":":
                k += 1
            elif k > j:  # at least one space consumed
                pass
            else:
                continue  # separator failed -> try next spelling
            # value: up to '#' (comment) or EOL
            hash_pos = line.find("#", k)
            value = line[k:hash_pos] if hash_pos != -1 else line[k:]
            return kind, value.strip()
    return UNKNOWN, line


def lex(text: str) -> list[tuple[int, str]]:
    """Tokenize robots.txt text into directives (lexer.rs:71-98).

    The caller is responsible for the byte limit / NUL rewrite / BOM strip /
    decoding (see :meth:`Robots.from_bytes`).  The empty-``Disallow`` ->
    ``Allow: /`` rewrite (lexer.rs:135-142) is applied here.

    Line termination mirrors nom's ``consume_newline`` (lexer.rs:57-61):
    a line ends at ``\\r*\\n`` or at a bare ``\\r`` run; a final empty
    segment after a trailing terminator produces no directive (eof).
    """
    if text.startswith("﻿"):
        text = text[1:]
    if text == "":
        return []
    lines = re.split(r"\r*\n|\r+", text)
    if lines and lines[-1] == "":
        lines.pop()  # trailing terminator: many_till hits eof, no empty line
    out = []
    for line in lines:
        kind, value = _lex_line(line)
        if kind == DISALLOW and value == "":
            kind, value = ALLOW, "/"  # moz.com rule, lexer.rs:139-142
        out.append((kind, value))
    return out


# --- rules & wildcards (exclusion/parse/rule.rs) ----------------------------

W_NONE, W_ENDING, W_UNIVERSAL, W_BOTH = "prefix", "ending", "universal", "regex"

REGEX_SIZE_LIMIT = 42 * 1024  # exclusion/parse/rule.rs:68-71

_STAR_RUN = re.compile(r"\*+")


class WildcardError(ValueError):
    """Raised when a pattern's ``$`` usage is invalid; the rule is dropped
    (exclusion/parse/rule.rs:9-17, parser.rs:92)."""


def classify_pattern(pattern: str) -> tuple[str, str]:
    """Classify a *normalized* pattern into a (kind, match_pattern) pair.

    Mirrors ``Wildcard::new`` (exclusion/parse/rule.rs:31-74):

    * no ``*``/``$``            -> (prefix, pattern)          startswith match
    * single trailing ``$``,
      no ``*``                  -> (ending, pattern minus $)  exact match
    * >1 ``$``                  -> WildcardError (TooManyEndings)
    * one ``$`` not at end      -> WildcardError (EndingPosition)
    * ``*`` only                -> (universal, star-collapsed) greedy scan
    * ``*`` + trailing ``$``    -> (regex, '^'+escaped)       anchored regex
    """
    has_star = "*" in pattern
    endings = pattern.count("$")
    if not has_star and endings == 0:
        return W_NONE, pattern
    if endings > 1:
        raise WildcardError(f"too many ending wildcards: {endings}")
    if endings == 1 and pattern.endswith("$") and not has_star:
        return W_ENDING, pattern[:-1]
    if endings == 1 and not pattern.endswith("$"):
        raise WildcardError(f"unexpected ending wildcard position")
    collapsed = _STAR_RUN.sub("*", pattern)
    if has_star and endings == 0:
        return W_UNIVERSAL, collapsed
    regex = "^" + re.escape(collapsed).replace(r"\*", ".*").replace(r"\$", r"\Z")
    if len(regex.encode("utf-8")) > REGEX_SIZE_LIMIT:
        # the reference's regex Builder errors above 42 KiB and the rule is
        # dropped (rule.rs:68-71 -> parser.rs:92); same observable behavior
        raise WildcardError("compiled pattern exceeds size limit")
    return W_BOTH, regex


def match_universal(pattern: str, path: str) -> bool:
    """Greedy left-to-right ``*`` scan (exclusion/parse/rule.rs:82-103)."""
    splits = pattern.split("*")
    first = splits[0]
    if not path.startswith(first):
        return False
    pos = len(first)
    for split in splits[1:]:
        idx = path.find(split, pos)
        if idx == -1:
            return False
        pos = idx + len(split)
    return True


@dataclass(frozen=True)
class Rule:
    """One compiled Allow/Disallow rule (exclusion/parse/rule.rs:151-189)."""

    pattern: str  # normalized original pattern (sort key)
    allow: bool
    kind: str  # prefix | ending | universal | regex
    match_pattern: str  # kind-specific precompiled form

    @staticmethod
    def new(raw_pattern: str, allow: bool) -> "Rule":
        pattern = normalize_path(raw_pattern)
        kind, mp = classify_pattern(pattern)  # may raise WildcardError
        return Rule(pattern, allow, kind, mp)

    def is_match(self, path: str) -> bool:
        """NOTE: expects a normalized relative path (rule.rs:178-183)."""
        if self.kind == W_NONE:
            return path.startswith(self.match_pattern)
        if self.kind == W_ENDING:
            return path == self.match_pattern
        if self.kind == W_UNIVERSAL:
            return match_universal(self.match_pattern, path)
        return re.match(self.match_pattern, path) is not None

    def is_universal(self) -> bool:
        """True if the rule matches everything (rule.rs:191-199)."""
        if self.kind == W_NONE:
            return self.pattern == "/"
        if self.kind == W_ENDING:
            return False
        if self.kind == W_UNIVERSAL:
            return self.match_pattern == "/*"
        return self.match_pattern == "^/.*\\Z"


def sort_rules(rules: list[Rule]) -> list[Rule]:
    """Stable sort by (pattern byte-length desc, allow desc).

    Normalized patterns are pure ASCII, so ``len(str)`` equals Rust's byte
    length (exclusion/parse/rule.rs:216-221; sort at parser.rs:39-42).
    """
    return sorted(rules, key=lambda r: (-len(r.pattern), not r.allow))


# --- parser (exclusion/parse/parser.rs) -------------------------------------


def _parse_f64(s: str) -> Optional[float]:
    """Rust ``str::parse::<f64>`` — rejects whitespace/underscores/hex."""
    s = s.strip()
    if not s or not re.fullmatch(
        r"[+-]?(inf(inity)?|nan|(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?)", s, re.IGNORECASE
    ):
        return None
    try:
        return float(s)
    except ValueError:  # pragma: no cover
        return None


@dataclass
class ParsedRobots:
    """Parser output state (exclusion/parse/parser.rs:9-18)."""

    longest_match: str = ALL_UAS
    rules: list[Rule] = field(default_factory=list)
    crawl_delay: Optional[float] = None
    sitemaps: list[str] = field(default_factory=list)


def _select_user_agent(directives: list[tuple[int, str]], user_agent: str) -> tuple[str, bool]:
    """Longest acceptable UA group (exclusion/parse/parser.rs:47-68).

    Acceptable means the *client* UA starts with the group UA (both trimmed,
    lowercased).  Default ``*``; returns (selected, check_non_assigned).
    """
    client = user_agent.strip().lower()
    best: Optional[str] = None
    for kind, value in directives:
        if kind != UA:
            continue
        ua = value.strip().lower()
        if client.startswith(ua):
            # Rust max_by keeps the *last* maximal element; ties can only be
            # the identical string, so >= reproduces it exactly.
            if best is None or len(ua) >= len(best):
                best = ua
    if best is None:
        best = ALL_UAS
    return best, best == ALL_UAS


def parse_directives(
    directives: list[tuple[int, str]], user_agent: str, url_parse=None
) -> ParsedRobots:
    """Group state machine over the directive list (parser.rs:22-120).

    ``url_parse`` is an optional callable used to validate Sitemap URLs; it
    must return a canonical URL string or None (defaults to
    ``kit_spark.kit_py.urls.parse_url_str``).
    """
    if url_parse is None:
        from .urls import parse_url_str

        url_parse = parse_url_str

    longest_match, captures_rules = _select_user_agent(directives, user_agent)
    state = ParsedRobots(longest_match=longest_match)
    captures_group = False

    for kind, value in directives:
        if kind == UA:
            ua = value.strip().lower()
            if not captures_group or not captures_rules:
                captures_rules = ua == longest_match
            captures_group = True
        elif kind in (ALLOW, DISALLOW):
            captures_group = False
            if captures_rules:
                try:
                    state.rules.append(Rule.new(value, kind == ALLOW))
                except WildcardError:
                    pass  # invalid rule dropped (parser.rs:92)
        elif kind == CRAWL_DELAY:
            captures_group = False
            if captures_rules:
                secs = _parse_f64(value)
                # Duration::try_from_secs_f64: finite and >= 0 only.
                if secs is not None and secs >= 0.0 and secs == secs and secs != float("inf"):
                    prev = state.crawl_delay
                    state.crawl_delay = secs if prev is None else min(prev, secs)
        elif kind == SITEMAP:
            addr = url_parse(value)
            if addr is not None:
                state.sitemaps.append(addr)
        # UNKNOWN: ignored (parser.rs:36) — does NOT close the UA header.

    state.rules = sort_rules(state.rules)
    return state


# --- compiled ruleset (exclusion/parse/inner.rs, mod.rs) --------------------

ACCESS_SUCCESSFUL = "successful"
ACCESS_REDIRECT = "redirect"
ACCESS_UNAVAILABLE = "unavailable"
ACCESS_UNREACHABLE = "unreachable"


@dataclass(frozen=True)
class Robots:
    """Compiled, immutable ruleset (exclusion/parse/inner.rs:26-32).

    ``always`` is the global-rule short-circuit; when set, ``rules`` is empty.
    """

    user_agent: str
    always: Optional[bool]
    rules: tuple[Rule, ...]
    crawl_delay: Optional[float]
    sitemaps: tuple[str, ...]

    # -- constructors --------------------------------------------------------

    @staticmethod
    def from_bytes(robots: bytes, user_agent: str, optimal: bool = True) -> "Robots":
        """Parse a robots.txt body (exclusion/parse/inner.rs:36-59).

        Truncates to 512,000 bytes, rewrites NUL to newline, lossily decodes
        UTF-8 (the reference decodes per-value with from_utf8 and drops
        invalid values; we decode the whole doc with errors='replace' — any
        value containing invalid UTF-8 yields U+FFFD and, where the reference
        would drop the value, still produces an equivalent never-matching or
        identical rule for ASCII paths).
        """
        robots = robots[:BYTE_LIMIT].replace(b"\x00", b"\n")
        # BOM bytes stripped individually (lexer.rs:80-83: each optional).
        for bom_byte in (b"\xef", b"\xbb", b"\xbf"):
            if robots.startswith(bom_byte):
                robots = robots[1:]
        text = robots.decode("utf-8", errors="replace")
        directives = lex(text)
        state = parse_directives(directives, user_agent)
        always, rules = _optimize(state.rules, optimal)
        return Robots(
            user_agent=state.longest_match,
            always=always,
            rules=tuple(rules),
            crawl_delay=state.crawl_delay,
            sitemaps=tuple(state.sitemaps),
        )

    @staticmethod
    def from_always(
        always: bool, user_agent: str, crawl_delay: Optional[float] = None
    ) -> "Robots":
        """Global rule constructor (exclusion/parse/inner.rs:81-88)."""
        return Robots(user_agent, always, (), crawl_delay, ())

    @staticmethod
    def from_access(
        access: str, body: Optional[bytes], user_agent: str, optimal: bool = True
    ) -> "Robots":
        """RFC 9309 §2.3.1 access-result semantics (parse/mod.rs:144-151):
        successful -> parse; redirect/unavailable -> allow-all;
        unreachable -> disallow-all."""
        if access == ACCESS_SUCCESSFUL:
            return Robots.from_bytes(body or b"", user_agent, optimal)
        if access in (ACCESS_REDIRECT, ACCESS_UNAVAILABLE):
            return Robots.from_always(True, user_agent)
        if access == ACCESS_UNREACHABLE:
            return Robots.from_always(False, user_agent)
        raise ValueError(f"unknown access result: {access}")

    # -- matching ------------------------------------------------------------

    def try_is_allowed(self, path: str) -> Optional[bool]:
        """Tri-state gate (exclusion/parse/inner.rs:92-103): Some(always) |
        /robots.txt -> True | first matching rule | None (no match)."""
        if self.always is not None:
            return self.always
        npath = normalize_path(path)
        if npath == "/robots.txt":
            return True
        for rule in self.rules:
            if rule.is_match(npath):
                return rule.allow
        return None

    def is_allowed(self, path: str) -> bool:
        """No match -> allowed (exclusion/parse/inner.rs:105-110)."""
        result = self.try_is_allowed(path)
        return True if result is None else result

    def is_always(self) -> Optional[bool]:
        return self.always

    def __len__(self) -> int:
        return len(self.rules)

    # -- serde-compatible cache layout (exclusion/parse/serde.rs:8-109) ------

    def to_cache(self) -> dict:
        """Serialize in the reference's rule-cache layout: either
        {"always": bool} or {"allow": [...], "disallow": [...]}."""
        base = {"user_agent": self.user_agent, "crawl_delay": self.crawl_delay,
                "sitemaps": list(self.sitemaps)}
        if self.always is not None:
            base["always"] = self.always
        else:
            base["allow"] = [r.pattern for r in self.rules if r.allow]
            base["disallow"] = [r.pattern for r in self.rules if not r.allow]
        return base

    @staticmethod
    def from_cache(data: dict, optimal: bool = False) -> "Robots":
        """Deserialize; re-compiles and re-sorts (serde.rs:88-100)."""
        if "always" in data:
            always, rules = data["always"], ()
        else:
            rules = []
            for p in data.get("allow", ()):  # allow first, then disallow
                try:
                    rules.append(Rule.new(p, True))
                except WildcardError:
                    pass
            for p in data.get("disallow", ()):
                try:
                    rules.append(Rule.new(p, False))
                except WildcardError:
                    pass
            always, rules = _optimize(sort_rules(rules), optimal)
        return Robots(
            user_agent=data.get("user_agent", ALL_UAS),
            always=always,
            rules=tuple(rules),
            crawl_delay=data.get("crawl_delay"),
            sitemaps=tuple(data.get("sitemaps", ())),
        )


def _optimize(rules: list[Rule], optimal: bool) -> tuple[Optional[bool], list[Rule]]:
    """Global-rule collapse (exclusion/parse/inner.rs:62-78, ``optimal``).

    Empty or all-allow -> Always(true); all-disallow including a universal
    disallow -> Always(false).  NOTE (matching the reference): Always(false)
    also blocks "/robots.txt", which the rule path would special-case allow.
    """
    if not optimal:
        return None, rules
    if not rules or all(r.allow for r in rules):
        return True, []
    if all(not r.allow for r in rules) and any(r.is_universal() for r in reversed(rules)):
        return False, []
    return None, rules
