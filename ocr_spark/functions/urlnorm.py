"""URL canonicalization as a pure-JVM Column expression.

Canonical URLs are the join key of a crawl: the CDX index, crawl diffs,
recrawl scheduling, and exact dedup all compare URLs, and a crawl sees the
same resource under many spellings (case-varied scheme/host, default
ports, percent-encoded unreserved characters, `.`/`..` path segments,
fragments, tracking query parameters, unordered query strings). Folding
those spellings BEFORE the shuffle is what keeps a by-url groupBy from
splitting one resource across keys at 100 TB.

Frozen algorithm (the contract `tests/test_weburl.py` checks against an
independent urllib-based reference, and which the first-principles DuckDB
oracles of queries_weburl assume):

1. strip the fragment (everything from the first ``#``);
2. lowercase the scheme and the authority (contract: no userinfo — crawl
   URLs; the authority is host[:port]);
3. drop the scheme's default port (``:80`` for http, ``:443`` for https);
4. percent-decode escapes of RFC 3986 *unreserved* characters in the path
   (ALPHA / DIGIT / ``-._~``), hex case-insensitively; all other escapes
   are left untouched;
5. resolve ``.`` / ``..`` path segments stack-wise, never popping above
   the root (a final ``.``/``..`` resolves without re-adding a trailing
   slash — a deliberate, documented divergence from RFC 3986 §5.2.4 that
   cannot trigger on crawl-normalized inputs); an empty path becomes ``/``;
6. drop tracking query parameters (names starting ``utm_`` and the exact
   names fbclid / gclid / msclkid / mc_eid, case-insensitive) and empty
   params, byte-sort the survivors, and drop the ``?`` entirely when
   nothing survives.

Everything is built from JVM column ops (split / aggregate / filter HOFs,
regexp on anchored literals) — no Python in the path, so canonicalization
is a zero-Exchange map stage wherever it is applied.
"""

from __future__ import annotations

import string
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

_MAXLEN = 2 ** 31 - 1

# exact tracking-parameter names (lowercased); utm_* is prefix-matched
TRACKING_NAMES = ("fbclid", "gclid", "msclkid", "mc_eid")


def _bind(x: Column, body: Callable[[Column], Column]) -> Column:
    """``body(x)`` with ``x`` evaluated once: ``transform(array(x), v ->
    body(v))[0]``. Every builder here reads its input several times, so
    passing the input expression inline would copy it into the tree once
    per read — and nesting builders (``canonicalize_url`` of a
    ``canonicalize_url``) would multiply the copies."""
    return F.transform(F.array(x), body)[0]


def _unreserved_map() -> Column:
    """map('41' -> 'A', ...) — uppercase hex of every RFC 3986 unreserved
    character. Built once as a foldable map literal."""
    items: list[Column] = []
    for ch in string.ascii_letters + string.digits + "-._~":
        items.append(F.lit(f"{ord(ch):02X}"))
        items.append(F.lit(ch))
    return F.create_map(*items)


def pct_decode_unreserved(col: Column) -> Column:
    """Decode %XX escapes of unreserved characters; leave every other
    escape byte-identical (including malformed/short ones). One split on
    '%' + one aggregate fold — linear, JVM-only."""
    m = _unreserved_map()

    def dec(x: Column) -> Column:
        rep = F.try_element_at(m, F.upper(F.substring(x, 1, 2)))
        return F.when(
            rep.isNotNull(),
            F.concat(rep, F.substring(x, F.lit(3), F.lit(_MAXLEN))),
        ).otherwise(F.concat(F.lit("%"), x))

    def body(parts: Column) -> Column:
        tail = F.slice(
            parts, F.lit(2), F.greatest(F.size(parts) - 1, F.lit(0))
        )
        return F.concat(
            F.element_at(parts, 1),
            F.aggregate(
                tail, F.lit(""), lambda acc, x: F.concat(acc, dec(x))
            ),
        )

    return _bind(F.split(col, "%"), body)


def remove_dot_segments(path: Column) -> Column:
    """Stack-resolve '.'/'..' in an absolute path ('/...'). The aggregate
    seed is the root marker [''] and '..' never pops it, so '/../x'
    resolves to '/x' (RFC 3986 §5.2.4 behavior at the root)."""
    def body(segs_all: Column) -> Column:
        segs = F.slice(
            segs_all, F.lit(2), F.greatest(F.size(segs_all) - 1, F.lit(0))
        )
        stack = F.aggregate(
            segs,
            F.expr("array('')"),
            lambda acc, x: (
                F.when(x == ".", acc)
                .when(
                    x == "..",
                    F.slice(
                        acc, F.lit(1), F.greatest(F.size(acc) - 1, F.lit(1))
                    ),
                )
                .otherwise(F.concat(acc, F.array(x)))
            ),
        )
        joined = F.array_join(stack, "/")
        # an all-dots path collapses to the bare root marker — render it '/'
        return F.when(joined == "", F.lit("/")).otherwise(joined)

    return _bind(F.split(path, "/"), body)


def _clean_query(rawq: Column) -> Column:
    """Drop empty + tracking params, byte-sort the rest; '' when none."""
    name = lambda p: F.lower(F.substring_index(p, "=", 1))  # noqa: E731
    kept = F.filter(
        F.split(rawq, "&"),
        lambda p: (p != "")
        & ~F.startswith(name(p), F.lit("utm_"))
        & ~name(p).isin(*TRACKING_NAMES),
    )
    s = F.array_sort(kept)
    return F.when(
        F.size(s) > 0, F.concat(F.lit("?"), F.array_join(s, "&"))
    ).otherwise(F.lit(""))


def canonicalize_url(url: Column) -> Column:
    """The full frozen algorithm (module docstring) over an absolute
    http(s) URL column. Pure column ops — safe in any map stage."""

    def body(nofrag: Column) -> Column:
        scheme = F.lower(F.substring_index(nofrag, "://", 1))
        rest = F.substring(nofrag, F.instr(nofrag, "://") + 3, F.lit(_MAXLEN))
        auth_raw = F.regexp_extract(rest, "^[^/?]*", 0)
        auth = F.lower(auth_raw)
        auth = (
            F.when(scheme == "http", F.regexp_replace(auth, ":80$", ""))
            .when(scheme == "https", F.regexp_replace(auth, ":443$", ""))
            .otherwise(auth)
        )
        pathq = F.substring(rest, F.length(auth_raw) + 1, F.lit(_MAXLEN))
        rawpath = F.substring_index(pathq, "?", 1)
        rawq = F.when(
            F.instr(pathq, "?") > 0,
            F.substring(pathq, F.instr(pathq, "?") + 1, F.lit(_MAXLEN)),
        ).otherwise(F.lit(""))
        path = remove_dot_segments(
            F.when(rawpath == "", F.lit("/")).otherwise(
                pct_decode_unreserved(rawpath)
            )
        )
        return F.concat(
            scheme, F.lit("://"), auth, path, _clean_query(rawq)
        )

    return _bind(F.substring_index(url, "#", 1), body)


def resolve_href(base: Column, href: Column) -> Column:
    """Resolve an outlink href against its page URL (RFC 3986 §5.3 for the
    http(s)/no-userinfo crawl context) — the step that turns the SPEC §5
    as-written link product into the absolute URLs a WAT link record
    carries. Frozen rules:

    - href with a scheme (``[A-Za-z][A-Za-z0-9+.-]*:`` prefix) → as-is;
    - protocol-relative (``//…``) → base scheme + ``:`` + href;
    - absolute path (``/…``) → base origin + remove_dot_segments(path);
    - otherwise (relative path) → merge onto the base path's directory
      (RFC §5.3.3: base path up to its last ``/``, or ``/`` when the base
      path is empty), then remove_dot_segments;
    - the href's ``?query#fragment`` tail (everything from the first ``?``
      or ``#``) rides along verbatim; the base's own query never
      contributes. An empty href resolves to the base (same-document —
      unreachable through §5, which discards empty hrefs).

    Pure JVM column ops end-to-end (the dot-segment stack is the same
    aggregate used by canonicalize_url) — resolution is a zero-Exchange
    map stage over the link product, verified against urllib.parse.urljoin
    in tests/test_weburl.py.
    """
    return _bind(
        base, lambda b: _bind(href, lambda h: _resolve_bound(b, h))
    )


def _resolve_bound(base: Column, href: Column) -> Column:
    scheme = F.lower(F.substring_index(base, "://", 1))
    rest = F.substring(base, F.instr(base, "://") + 3, F.lit(_MAXLEN))
    authority = F.regexp_extract(rest, "^[^/?#]*", 0)
    origin = F.concat(scheme, F.lit("://"), authority)
    base_path = F.regexp_extract(
        F.substring(rest, F.length(authority) + 1, F.lit(_MAXLEN)),
        "^[^?#]*", 0,
    )
    # RFC §5.3.3 merge: base directory, '/' when the base path is empty
    base_dir = F.when(base_path == "", F.lit("/")).otherwise(
        F.regexp_replace(base_path, "[^/]*$", "")
    )
    hpath = F.regexp_extract(href, "^[^?#]*", 0)
    htail = F.substring(href, F.length(hpath) + 1, F.lit(_MAXLEN))
    has_scheme = href.rlike("^[A-Za-z][A-Za-z0-9+.\\-]*:")

    def rfc_dots(p: Column) -> Column:
        # RFC §5.2.4: a FINAL '.'/'..' segment leaves a trailing slash
        # (canonicalize_url deliberately does not apply this — see its
        # documented divergence; resolution is RFC-exact and urljoin-gated)
        r = remove_dot_segments(p)
        trailing_dot = p.rlike(r"(^|/)\.{1,2}$")
        return F.when(
            trailing_dot & ~F.endswith(r, F.lit("/")),
            F.concat(r, F.lit("/")),
        ).otherwise(r)

    return (
        F.when(href == "", base)
        .when(has_scheme, href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        # query-only ref (RFC §5.3): the base PATH is kept, not its dir
        .when(hpath == "", F.concat(origin, base_path, htail))
        .when(
            href.startswith("/"),
            F.concat(origin, rfc_dots(hpath), htail),
        )
        .otherwise(
            F.concat(
                origin,
                rfc_dots(F.concat(base_dir, hpath)),
                htail,
            )
        )
    )
