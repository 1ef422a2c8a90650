"""RFC 3986 URL canonicalization + xxhash64 keying.

The reference only normalizes the scheme (prefix ``https://`` when missing,
``/root/reference/app.py:381-383,1163-1165``) and strips ``www.``/port for
domain naming (``app.py:272-280``). The target spec requires full RFC 3986
normalization; this module implements it as an Arrow-batched pandas UDF
(the only canonicalization step Spark built-ins cannot express), with the
64-bit URL key computed JVM-side via the built-in ``xxhash64``.

Normalization steps (superset of the reference's, RFC 3986 §6):
  1. trim whitespace; prefix ``https://`` when scheme missing (reference quirk)
  2. lowercase scheme and host; strip a leading ``www.``
  3. drop default ports (``:80`` http / ``:443`` https) and empty port
  4. remove the fragment
  5. resolve dot-segments in the path (RFC 3986 §5.2.4)
  6. percent-decode unreserved characters, uppercase remaining %XX
  7. sort query parameters (stable by key, then value); drop empty query
  8. empty path → ``/``

Determinism: pure function of the input string — no clocks, no randomness.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://")
_DEFAULT_PORTS = {"http": "80", "https": "443"}
# RFC 3986 unreserved: ALPHA / DIGIT / "-" / "." / "_" / "~"
_PCT_RE = re.compile(r"%[0-9a-fA-F]{2}")


_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)


def _renorm_pct(s: str) -> str:
    """RFC 3986 §6.2.2.2: decode %XX only when it encodes an unreserved
    character; uppercase all surviving escapes. Reserved escapes (%2F etc.)
    are preserved — decoding them would change URL semantics."""
    if "%" not in s:
        return s

    def fix(m: re.Match) -> str:
        ch = chr(int(m.group(0)[1:], 16))
        return ch if ch in _UNRESERVED else m.group(0).upper()

    return _PCT_RE.sub(fix, s)


def _remove_dot_segments(path: str) -> str:
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if len(out) > 1:
                out.pop()
        else:
            out.append(seg)
    if path.endswith(("/.", "/..")):
        out.append("")
    return "/".join(out)


def canonicalize_one(url: str | None, base: str | None = None) -> str | None:
    """Canonicalize a single URL; resolve against ``base`` first if given.

    Returns None for unusable inputs (empty, unparseable, non-http(s)).
    """
    if url is None:
        return None
    u = url.strip()
    if not u:
        return None
    if base:
        u = urljoin(base, u)
    if not _SCHEME_RE.match(u):
        # reference quirk: bare domains get https:// (app.py:381-383)
        u = "https://" + u
    try:
        parts = urlsplit(u)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    host = (parts.hostname or "").lower()
    if not host:
        return None
    if host.startswith("www."):
        host = host[4:]
    try:
        port = parts.port
    except ValueError:
        return None
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS[scheme]:
        netloc = f"{host}:{port}"
    path = _remove_dot_segments(parts.path) or "/"
    path = _renorm_pct(path)
    query = ""
    if parts.query:
        pairs = [p for p in parts.query.split("&") if p]
        pairs = [_renorm_pct(p) for p in pairs]
        pairs.sort()
        query = "&".join(pairs)
    return urlunsplit((scheme, netloc, path, query, ""))


@pandas_udf(StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    """Vectorized canonicalizer (Arrow batches; no per-row Python in the plan)."""
    return urls.map(lambda u: canonicalize_one(u))


# The same canonicalizer, marked nondeterministic so the optimizer cannot
# copy the call into a filter it pushes below the projection (a deterministic
# UDF is inlined into with_canonical_url's isNotNull filter, and the plan then
# runs two Python passes over the same URLs). The output is unchanged.
_canonicalize_once = pandas_udf(canonicalize_udf.func, StringType()).asNondeterministic()


# dot-free so no dot-segment handling can ever apply on the fast path
_SIMPLE_PATH_RE = re.compile(r"^/[A-Za-z0-9_\-/]*$")
_ORIGIN_RE = re.compile(r"^(https?://[^/]+)")


def resolve_series(urls: pd.Series, bases: pd.Series) -> pd.Series:
    """Vectorized resolve+canonicalize of outlinks against the page URLs
    they were found on, over aligned Series. The fused extract+canonicalize
    page UDF calls it, so outlink canonicalization shares the same Arrow
    batch as text extraction.

    Fast path: most real-world outlinks are plain absolute paths ("/a/b")
    with no scheme/query/escape/dot-segments — for those, canonical = base
    origin + path, computed with pandas string ops (~10x faster than the
    full RFC 3986 walk). Everything else falls back to ``canonicalize_one``
    row-wise. Results are identical by construction: the fast path only
    accepts inputs the full path normalizer would leave untouched.
    """
    fast = (
        urls.str.match(_SIMPLE_PATH_RE, na=False)
        & ~urls.str.contains("//", regex=False, na=False)
        & bases.str.match(_ORIGIN_RE, na=False)
    )
    out = pd.Series(index=urls.index, dtype="object")
    if fast.any():
        origins = bases[fast].str.extract(_ORIGIN_RE, expand=False)
        out[fast] = origins + urls[fast]
    slow = ~fast
    if slow.any():
        out[slow] = [
            canonicalize_one(u, b) for u, b in zip(urls[slow], bases[slow])
        ]
    return out


def host_of(col: Column) -> Column:
    """Host of an already-canonical URL — pure built-ins (JVM-side)."""
    return F.parse_url(col, F.lit("HOST"))


def surt_key(col: Column) -> Column:
    """SURT ordering key (Sort-friendly URI Reordering Transform — the
    Common-Crawl cc-index / IA Wayback CDX convention) of an
    already-canonical URL: host labels reversed and comma-joined, then
    ``)`` and the path (+ ``?query`` when present):

        https://shop.example.com/a/b?q=1  →  com,example,shop)/a/b?q=1

    Why the engine wants it: lexicographic order on the SURT groups every
    URL of a registrable domain (and of each host under it) into ONE
    contiguous key range, so a frontier or index sorted/range-partitioned
    by SURT gets (a) per-domain locality without a separate host column,
    (b) prefix-range scans for "everything under example.com" that prune
    at the parquet/Iceberg min-max level, and (c) the exact layout the
    public cc-index publishes, so our artifacts join theirs by sort-merge
    with no re-keying. Pure JVM built-ins (parse_url/split/reverse) —
    whole-stage codegen, zero Python.

    Scheme is dropped by design (http/https collapse to one key — the
    canonicalizer already normalizes scheme, this makes the KEY scheme-
    blind like the CDX convention). NULL for non-URL input (no host).
    """
    host = F.lower(F.try_parse_url(col, F.lit("HOST")))
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.coalesce(F.try_parse_url(col, F.lit("PATH")), F.lit(""))
    query = F.try_parse_url(col, F.lit("QUERY"))
    tail = F.when(query.isNotNull(), F.concat(path, F.lit("?"), query)).otherwise(path)
    return F.when(host.isNull(), F.lit(None).cast("string")).otherwise(
        F.concat(rev, F.lit(")"), tail)
    )


# Embedded SNAPSHOT of multi-label public suffixes (publicsuffix.org — public
# data). Deliberately a representative subset: a production deployment swaps
# in the full PSL via ``set_public_suffixes(load_public_suffix_list(text))``.
# Single-label TLDs need no entry (the default "last two labels" rule covers
# them).
PUBLIC_SUFFIXES_2LABEL: frozenset[str] = frozenset(
    """
    co.uk org.uk me.uk ac.uk gov.uk net.uk sch.uk ltd.uk plc.uk
    co.jp ne.jp or.jp ac.jp go.jp ad.jp ed.jp lg.jp gr.jp
    com.au net.au org.au edu.au gov.au asn.au id.au
    co.nz net.nz org.nz govt.nz ac.nz school.nz geek.nz gen.nz maori.nz
    com.br net.br org.br gov.br edu.br art.br blog.br eco.br
    co.in net.in org.in gen.in firm.in ind.in res.in edu.in gov.in ac.in
    com.cn net.cn org.cn gov.cn edu.cn ac.cn mil.cn
    com.mx org.mx gob.mx edu.mx net.mx
    com.ar net.ar org.ar edu.ar gob.ar
    com.sg net.sg org.sg edu.sg gov.sg per.sg
    com.hk net.hk org.hk edu.hk gov.hk idv.hk
    com.tw net.tw org.tw edu.tw gov.tw idv.tw
    com.tr net.tr org.tr edu.tr gov.tr web.tr
    com.my net.my org.my edu.my gov.my name.my
    co.za org.za net.za web.za ac.za gov.za
    co.kr or.kr go.kr ne.kr re.kr pe.kr ac.kr
    co.il org.il net.il ac.il gov.il muni.il
    com.pk net.pk org.pk edu.pk gov.pk
    com.ng net.ng org.ng edu.ng gov.ng
    co.th or.th ac.th go.th in.th net.th
    com.vn net.vn org.vn edu.vn gov.vn biz.vn
    com.ph net.ph org.ph edu.ph gov.ph
    com.co net.co org.co edu.co gov.co nom.co
    com.pe net.pe org.pe edu.pe gob.pe nom.pe
    com.cl gob.cl gov.cl mil.cl
    com.ec net.ec org.ec edu.ec gob.ec
    com.ve net.ve org.ve edu.ve gob.ve web.ve
    co.id or.id ac.id web.id net.id go.id sch.id my.id biz.id
    com.eg net.eg org.eg edu.eg gov.eg sci.eg
    com.sa net.sa org.sa edu.sa gov.sa med.sa pub.sa sch.sa
    com.ua net.ua org.ua edu.ua gov.ua in.ua
    co.ke or.ke ne.ke go.ke ac.ke sc.ke me.ke info.ke
    """.split()
)

# 3/4-label ICANN rules (publicsuffix.org): US K-12/community-college/library
# registries and Australian state education domains.
PUBLIC_SUFFIXES_3LABEL: frozenset[str] = frozenset(
    """
    k12.ca.us k12.ny.us k12.tx.us k12.fl.us k12.il.us k12.pa.us k12.oh.us
    k12.ga.us k12.nc.us k12.mi.us k12.nj.us k12.va.us k12.wa.us k12.ma.us
    cc.ca.us cc.ny.us cc.tx.us lib.ca.us lib.ny.us lib.tx.us
    act.edu.au nsw.edu.au nt.edu.au qld.edu.au sa.edu.au tas.edu.au
    vic.edu.au wa.edu.au
    pvt.k12.ma.us chtr.k12.ma.us paroch.k12.ma.us
    """.split()
)

# Wildcard and exception rules (publicsuffix.org ICANN section): ``*.ck``
# makes every <label>.ck a public suffix; ``!www.ck`` cancels it for the
# Cook Islands' own site. The Japanese city domains are the other live
# exception family.
PUBLIC_SUFFIXES_WILDCARD: frozenset[str] = frozenset(
    """
    *.ck *.jm *.kawasaki.jp *.kitakyushu.jp *.kobe.jp *.nagoya.jp
    *.sapporo.jp *.sendai.jp *.yokohama.jp
    """.split()
)
PUBLIC_SUFFIXES_EXCEPTION: frozenset[str] = frozenset(
    """
    !www.ck !city.kawasaki.jp !city.kitakyushu.jp !city.kobe.jp
    !city.nagoya.jp !city.sapporo.jp !city.sendai.jp !city.yokohama.jp
    """.split()
)

# PRIVATE-section suffixes (publicsuffix.org "PRIVATE DOMAINS"): hosted-
# subdomain platforms where each subdomain is a distinct registrant — the
# sites where eTLD+1 scoping matters most (user1.github.io must NOT be
# same-site with user2.github.io).
PRIVATE_SUFFIXES: frozenset[str] = frozenset(
    """
    github.io githubusercontent.com gitlab.io blogspot.com appspot.com
    herokuapp.com netlify.app vercel.app web.app firebaseapp.com
    azurewebsites.net cloudapp.net wordpress.com pages.dev workers.dev
    glitch.me neocities.org readthedocs.io s3.amazonaws.com
    """.split()
)

_IPV4_RE = re.compile(r"^\d{1,3}(\.\d{1,3}){3}$")

# Active rule table, built by ``set_public_suffixes``:
#   {"exact":     {suffix label count -> suffixes},
#    "wildcard":  {BASE label count   -> bases},      # rule "*.<base>"
#    "exception": {rule label count   -> rules},      # rule "!<rule>"
#    "_plan":     [(kind, k), ...]}                   # match order, shared
#                                                     # by BOTH twins
# Module init installs the embedded snapshot.
_suffix_rules: dict = {}


def _match_plan(rules: dict) -> list[tuple[str, int]]:
    """The rule-evaluation order BOTH twins follow (PSL algorithm):
    exception rules first (they always prevail), then exact and wildcard
    rules interleaved by the LENGTH OF THE PUBLIC SUFFIX they match — an
    exact rule with k labels matches a k-label suffix; ``*.base`` with a
    k-label base matches a (k+1)-label suffix — longest first."""
    plan: list[tuple[str, int]] = [
        ("exception", m) for m in sorted(rules["exception"], reverse=True)
    ]
    cands = [(k, "exact", k) for k in rules["exact"]] + [
        (k + 1, "wildcard", k) for k in rules["wildcard"]
    ]
    plan += [(kind, k) for (_ps, kind, k) in sorted(cands, reverse=True)]
    return plan


def _as_rule_table(rules: dict) -> dict:
    """Normalize a rule snapshot: accepts the full table or the pre-round-5
    plain ``{label count -> suffixes}`` exact-only form (older captured
    closures keep working)."""
    if not rules:
        return {"exact": {}, "wildcard": {}, "exception": {}, "_plan": []}
    if "exact" in rules:
        return rules
    t = {"exact": rules, "wildcard": {}, "exception": {}}
    t["_plan"] = _match_plan(t)
    return t


def set_public_suffixes(suffixes) -> None:
    """Install the public-suffix rule set both twins (``registrable_domain``
    and ``registrable_domain_py``) consult. Accepts an iterable of PSL rule
    strings — plain (``co.uk``, ``k12.ca.us``, ``github.io``), wildcard
    (``*.ck``: every ``<label>.ck`` is a public suffix), and exception
    (``!www.ck``: cancels the wildcard; ``www.ck`` is registrable) — i.e.
    the full publicsuffix.org semantics; a production deployment passes
    ``load_public_suffix_list(open(psl_path).read())``.

    Matching picks exception rules first, then the longest matched public
    suffix (exact and wildcard interleaved); the registrable domain is the
    suffix plus one label. Single-label plain entries are dropped (they are
    the implicit default rule).

    JVM caveat: expressions built by ``registrable_domain`` BEFORE the call
    keep the old rules (the rule set is baked into the Column at build
    time); python-twin consumers (the fused extraction UDF) pick up the new
    rules from the next Arrow batch onward — call this before starting jobs.
    """
    global _suffix_rules
    table: dict = {"exact": {}, "wildcard": {}, "exception": {}}
    for s in suffixes:
        s = s.strip().lower().rstrip(".")
        if not s:
            continue
        if s.startswith("!"):
            r = s[1:]
            table["exception"].setdefault(r.count(".") + 1, set()).add(r)
        elif s.startswith("*."):
            base = s[2:]
            if base:
                table["wildcard"].setdefault(base.count(".") + 1, set()).add(base)
        elif s == "*":
            continue  # the implicit default rule
        else:
            k = s.count(".") + 1
            if k >= 2:
                table["exact"].setdefault(k, set()).add(s)
    for kind in ("exact", "wildcard", "exception"):
        table[kind] = {k: frozenset(v) for k, v in sorted(table[kind].items())}
    table["_plan"] = _match_plan(table)
    _suffix_rules = table


def load_public_suffix_list(text: str, include_private: bool = True) -> list[str]:
    """Parse publicsuffix.org list format → rule strings for
    ``set_public_suffixes``. Handles ``//`` comments, blank lines, and the
    ICANN/PRIVATE section split (``include_private=False`` stops at the
    PRIVATE DOMAINS marker). Wildcard (``*.foo``) and exception (``!bar``)
    rules are kept — ``set_public_suffixes`` implements their exact
    semantics in both twins."""
    out: list[str] = []
    for line in text.splitlines():
        line = line.strip()
        if not include_private and "===BEGIN PRIVATE DOMAINS===" in line:
            break
        if not line or line.startswith("//"):
            continue
        out.append(line.split()[0].lower())
    return out


def current_suffix_rules() -> dict:
    """Snapshot of the active rule table. UDF builders capture this in
    their closure so the rules travel BY VALUE to executors — a bare
    module-global read inside a UDF would re-import this module on each
    executor and silently see the default snapshot, not the rules the
    driver installed with ``set_public_suffixes``."""
    return _suffix_rules


def registrable_domain_with_rules(host: str | None, rules: dict) -> str | None:
    """eTLD+1 under an explicit rule table (the executor-safe core of
    ``registrable_domain_py``). PSL match order (``_match_plan``): exception
    rules win (registrable = the rule itself), then longest matched public
    suffix — exact (suffix + 1 label) or wildcard (base + 2 labels; a host
    that IS ``<label>.base`` is its own public suffix and returns
    unchanged). IP literals, hosts with <=2 labels, and hosts matching no
    rule follow the default last-two-labels rule. A host that IS itself a
    public suffix is returned unchanged (the PSL says "no registrable
    domain"; for crawl scoping, identity is the useful answer)."""
    if host is None:
        return None
    if _IPV4_RE.match(host):
        return host
    rules = _as_rule_table(rules)
    parts = host.split(".")
    n = len(parts)
    for kind, k in rules["_plan"]:
        if kind == "exception":
            if n >= k and ".".join(parts[-k:]) in rules["exception"][k]:
                return ".".join(parts[-k:])
        elif kind == "exact":
            if n > k and ".".join(parts[-k:]) in rules["exact"][k]:
                return ".".join(parts[-(k + 1):])
        else:  # wildcard; k = base label count, public suffix = base+1
            if n >= k + 1 and ".".join(parts[-k:]) in rules["wildcard"][k]:
                return host if n == k + 1 else ".".join(parts[-(k + 2):])
    if n <= 2:
        return host
    return ".".join(parts[-2:])


def registrable_domain_py(host: str | None) -> str | None:
    """eTLD+1 of a canonical host (pure function; the python twin of
    ``registrable_domain``) over the active rule table
    (``set_public_suffixes``). Driver-side convenience — code that ships to
    executors should capture ``current_suffix_rules()`` and call
    ``registrable_domain_with_rules`` instead (see ``current_suffix_rules``).
    """
    return registrable_domain_with_rules(host, _suffix_rules)


def registrable_domain(col: Column) -> Column:
    """eTLD+1 of a canonical host as a pure JVM expression (split +
    element_at + InSet membership per rule length — whole-stage codegen, no
    Python; a 10k-rule full PSL becomes one hash-set probe per label count,
    not an expression blow-up). Walks the SAME ``_match_plan`` as the python
    twin — exception rules, then exact/wildcard by matched-suffix length —
    so the twins agree rule-for-rule for the rule set active at BUILD time
    (see ``set_public_suffixes``)."""
    rules = _as_rule_table(_suffix_rules)
    parts = F.split(col, r"\.")
    n = F.size(parts)

    def last(k: int) -> Column:
        return F.concat_ws(".", *[F.element_at(parts, -i) for i in range(k, 0, -1)])

    expr = F.when(col.rlike(r"^\d{1,3}(\.\d{1,3}){3}$"), col)
    for kind, k in rules["_plan"]:
        if kind == "exception":
            expr = expr.when(
                (n >= k) & last(k).isin(*sorted(rules["exception"][k])), last(k)
            )
        elif kind == "exact":
            expr = expr.when(
                (n > k) & last(k).isin(*sorted(rules["exact"][k])), last(k + 1)
            )
        else:  # wildcard; base has k labels, public suffix = base+1
            in_base = last(k).isin(*sorted(rules["wildcard"][k]))
            expr = expr.when(
                (n >= k + 1) & in_base,
                F.when(n == k + 1, col).otherwise(last(k + 2)),
            )
    return expr.when(n <= 2, col).otherwise(last(2))


set_public_suffixes(
    PUBLIC_SUFFIXES_2LABEL
    | PUBLIC_SUFFIXES_3LABEL
    | PUBLIC_SUFFIXES_WILDCARD
    | PUBLIC_SUFFIXES_EXCEPTION
    | PRIVATE_SUFFIXES
)


def url_key(col: Column) -> Column:
    """64-bit key of a canonical URL — built-in xxhash64 (JVM, codegen'd)."""
    return F.xxhash64(col)


def with_canonical_url(
    df: DataFrame, url_col: str = "url", out_prefix: str = ""
) -> DataFrame:
    """Add ``canonical_url``, ``host``, ``url_hash`` columns.

    Only the RFC 3986 string rewrite runs in Python (Arrow-batched), once
    per row; host extraction and hashing stay JVM-side for whole-stage
    codegen.
    """
    c = out_prefix + "canonical_url"
    return (
        df.withColumn(c, _canonicalize_once(F.col(url_col)))
        .filter(F.col(c).isNotNull())
        .withColumn(out_prefix + "host", host_of(F.col(c)))
        .withColumn(out_prefix + "url_hash", url_key(F.col(c)))
    )


# ------------------------------------------------------------------ tracking

# Click/campaign identifiers that mint spurious distinct URLs (the classic
# frontier-inflation vector: every ad click is a "new" page). Names are the
# publicly documented analytics params (Google utm_*/gclid/wbraid/gbraid,
# Microsoft msclkid, Facebook fbclid, Yandex yclid, Mailchimp mc_eid,
# Instagram igshid). `(=|$)` also catches bare flags without a value.
TRACKING_PARAM_RE = (
    r"^(utm_[a-z0-9_]*|gclid|wbraid|gbraid|fbclid|msclkid|yclid|mc_eid"
    r"|igshid|_ga|ref_src)(=|$)"
)


def strip_tracking_params(url: Column, pattern: str = TRACKING_PARAM_RE) -> Column:
    """Drop tracking query parameters from an already-canonical URL.

    Runs AFTER ``canonicalize_one``'s sort/normalize (so the kept params
    stay sorted and re-joining is order-stable) and BEFORE url_hash keying,
    collapsing ad-click aliases into one frontier entry. The reference
    keys its dedup set on the raw URL string (``/root/reference/app.py:
    618-622``), so every ``?utm_source=`` variant re-enters its queue.

    Pure JVM HOF chain (regexp split/filter/join) — whole-stage codegen,
    no Python in the plan; safe inside the scan projection at 100 TB.
    URLs without a query pass through untouched.
    """
    base = F.regexp_extract(url, r"^([^?]*)", 1)
    q = F.regexp_extract(url, r"\?(.*)$", 1)
    kept = F.filter(F.split(q, "&"), lambda p: ~p.rlike(pattern))
    return F.when(q == F.lit(""), url).otherwise(
        F.concat(
            base,
            F.when(
                F.size(kept) > 0,
                F.concat(F.lit("?"), F.array_join(kept, "&")),
            ).otherwise(F.lit("")),
        )
    )
