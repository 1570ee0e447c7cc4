"""Deterministic text kernels: html→text extraction, rule-based geocoding,
language id, quality scoring, token counting, fingerprinting.

All kernels operate on pandas Series (Arrow batches inside pandas UDFs);
regex work happens in pandas' C string machinery, never per-row Python
loops in the hot path.

* ``extract_text`` is the byte-identical-per-url invariant of
  BASELINE.json's ``input_hint``: a frozen, deterministic pipeline
  (strip comments/script/style → drop tags → decode entities →
  normalize whitespace).  Any change to it invalidates goldens —
  bump ``EXTRACT_VERSION`` and regenerate.
* ``geocode`` mirrors the reference's "filename parsing is the schema
  inference" idea (`gips/data/core.py :: Asset.__init__`, SURVEY.md
  §2.8 X1): coordinates are recovered from the url/text with an ordered
  rule table.  Rules are frozen code constants (no external data):
    1. url query string ``lat=<f>&lon=<f>``        → src 'latlon_qs'
    2. text coordinate phrase ``"<f>, <f>"``        → src 'coord_text'
    3. url path city slug from embedded gazetteer   → src 'city_url'
    4. city name in text from embedded gazetteer    → src 'city_text'
    5. nothing                                      → src 'none' (excluded
       from spatial ops downstream, per FIXTURES.md)
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

EXTRACT_VERSION = 1

# --------------------------------------------------------------- gazetteer
# ~48 major cities (public coordinates, 4-decimal precision). The first 12
# are the fixture hotspot cities (FIXTURES.md: K=12 urban hotspot disks).
GAZETTEER: list[tuple[str, float, float]] = [
    ("tokyo", 35.6762, 139.6503),
    ("new-york", 40.7128, -74.0060),
    ("london", 51.5074, -0.1278),
    ("sao-paulo", -23.5505, -46.6333),
    ("paris", 48.8566, 2.3522),
    ("berlin", 52.5200, 13.4050),
    ("moscow", 55.7558, 37.6173),
    ("seoul", 37.5665, 126.9780),
    ("sydney", -33.8688, 151.2093),
    ("mumbai", 19.0760, 72.8777),
    ("lagos", 6.5244, 3.3792),
    ("mexico-city", 19.4326, -99.1332),
    ("delhi", 28.7041, 77.1025),
    ("shanghai", 31.2304, 121.4737),
    ("cairo", 30.0444, 31.2357),
    ("beijing", 39.9042, 116.4074),
    ("dhaka", 23.8103, 90.4125),
    ("osaka", 34.6937, 135.5023),
    ("karachi", 24.8607, 67.0011),
    ("buenos-aires", -34.6037, -58.3816),
    ("chongqing", 29.4316, 106.9123),
    ("istanbul", 41.0082, 28.9784),
    ("kolkata", 22.5726, 88.3639),
    ("manila", 14.5995, 120.9842),
    ("rio-de-janeiro", -22.9068, -43.1729),
    ("tianjin", 39.3434, 117.3616),
    ("kinshasa", -4.4419, 15.2663),
    ("guangzhou", 23.1291, 113.2644),
    ("los-angeles", 34.0522, -118.2437),
    ("shenzhen", 22.5431, 114.0579),
    ("lahore", 31.5204, 74.3587),
    ("bangalore", 12.9716, 77.5946),
    ("bogota", 4.7110, -74.0721),
    ("jakarta", -6.2088, 106.8456),
    ("chennai", 13.0827, 80.2707),
    ("lima", -12.0464, -77.0428),
    ("bangkok", 13.7563, 100.5018),
    ("nagoya", 35.1815, 136.9066),
    ("hyderabad", 17.3850, 78.4867),
    ("tehran", 35.6892, 51.3890),
    ("chicago", 41.8781, -87.6298),
    ("chengdu", 30.5728, 104.0668),
    ("ho-chi-minh-city", 10.8231, 106.6297),
    ("johannesburg", -26.2041, 28.0473),
    ("madrid", 40.4168, -3.7038),
    ("toronto", 43.6532, -79.3832),
    ("singapore", 1.3521, 103.8198),
    ("rome", 41.9028, 12.4964),
]
HOTSPOT_CITIES = GAZETTEER[:12]
_CITY_LAT = {name: lat for name, lat, lon in GAZETTEER}
_CITY_LON = {name: lon for name, lat, lon in GAZETTEER}

# ccTLD → country centroid (public coordinates, frozen constants) — the
# LOWEST-priority geocoder tier (SURVEY §7.2 item 7: "ccTLD table"): a
# `example.de/artikel` page with no city mention or coordinates geocodes
# to the country centroid with src='cctld' instead of 'none'.  Generic
# TLDs (.com/.org/.net) and generic-USE ccTLDs (.io) are deliberately
# absent.  Covers the fixture ccTLDs (de fr jp br us au) + the most
# common Common-Crawl country domains.
CCTLD_CENTROIDS: list[tuple[str, float, float]] = [
    ("de", 51.1657, 10.4515),
    ("fr", 46.2276, 2.2137),
    ("jp", 36.2048, 138.2529),
    ("br", -14.2350, -51.9253),
    ("us", 37.0902, -95.7129),
    ("au", -25.2744, 133.7751),
    ("uk", 55.3781, -3.4360),
    ("cn", 35.8617, 104.1954),
    ("in", 20.5937, 78.9629),
    ("ru", 61.5240, 105.3188),
    ("ca", 56.1304, -106.3468),
    ("es", 40.4637, -3.7492),
    ("it", 41.8719, 12.5674),
    ("nl", 52.1326, 5.2913),
    ("pl", 51.9194, 19.1451),
    ("mx", 23.6345, -102.5528),
    ("za", -30.5595, 22.9375),
    ("kr", 35.9078, 127.7669),
    ("ar", -38.4161, -63.6167),
    ("tr", 38.9637, 35.2433),
]
_CC_LAT = {cc: lat for cc, lat, lon in CCTLD_CENTROIDS}
_CC_LON = {cc: lon for cc, lat, lon in CCTLD_CENTROIDS}

# slug alternation, longest-first so 'ho-chi-minh-city' beats 'chi'
_SLUGS_BY_LEN = sorted((c[0] for c in GAZETTEER), key=len, reverse=True)
#: shared pattern SOURCES (Python re and Java regex agree on these) so the
#: JVM geocoder (functions/udfs.py :: geocode_exprs) is provably the same
#: rule table — equality is pinned by the frozen `geocoded` golden hash.
URL_CITY_PATTERN = r"/(" + "|".join(_SLUGS_BY_LEN) + r")(?:/|$|\?)"
TEXT_CITY_PATTERN = (
    r"\b(" + "|".join(s.replace("-", " ") for s in _SLUGS_BY_LEN) + r")\b"
)
QS_LATLON_PATTERN = r"[?&]lat=(-?\d+\.\d+)&lon=(-?\d+\.\d+)"
TEXT_COORD_PATTERN = r"(-?\d{1,2}\.\d{4}),\s(-?\d{1,3}\.\d{4})"
#: last hostname label when it is a 2-letter tld (Java regex and Python
#: re agree on this source — same contract as the patterns above)
CCTLD_PATTERN = r"^https?://[^/?#]+\.([a-z]{2})(?:[/?#]|$)"
_URL_CITY_RE = re.compile(URL_CITY_PATTERN)
_TEXT_CITY_RE = re.compile(TEXT_CITY_PATTERN, re.IGNORECASE)
#: r6: the geocoder lowers the text before matching, so the IGNORECASE
#: flag was redundant there — and it disables re's literal-prefix scan
#: (measured 3.6× slower).  Kept separate so _TEXT_CITY_RE still serves
#: any raw-text call sites.
_TEXT_CITY_CS_RE = re.compile(TEXT_CITY_PATTERN)
#: re.ASCII: Java regex and RE2 (DuckDB) read \d and \s as ASCII
#: classes; Python's Unicode defaults would also match e.g. Arabic-Indic
#: digits and NBSP, which the JVM geocoder and the oracle reject
_QS_LATLON_RE = re.compile(QS_LATLON_PATTERN, re.ASCII)
_TEXT_COORD_RE = re.compile(TEXT_COORD_PATTERN, re.ASCII)
_CCTLD_RE = re.compile(CCTLD_PATTERN)

# ------------------------------------------------------------- extraction

_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_SCRIPT_STYLE_RE = re.compile(
    r"<(script|style)\b[^>]*>.*?</\1\s*>", re.DOTALL | re.IGNORECASE
)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")
_ENTITIES = {
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&#39;": "'",
    "&nbsp;": " ",
}
_NUM_ENTITY_RE = re.compile(r"&#(\d+);")


def strip_markup(s: pd.Series) -> pd.Series:
    """Stage 1 of the frozen extractor: comments → script/style → tags.

    The batch assign path runs this inside the fused enrich_struct
    kernel.  The streaming path runs the same stage JVM-side as a
    regexp_replace chain (functions/udfs.py :: strip_html_expr); the two
    are tested byte-equal (tests/test_pipeline.py).
    """
    s = s.str.replace(_COMMENT_RE, " ", regex=True)
    s = s.str.replace(_SCRIPT_STYLE_RE, " ", regex=True)
    s = s.str.replace(_TAG_RE, " ", regex=True)
    return s


def finish_extract(stripped: pd.Series) -> pd.Series:
    """Stage 2 of the frozen extractor: entities → whitespace → strip."""
    s = stripped.astype("string").fillna("")
    for ent, ch in _ENTITIES.items():
        s = s.str.replace(ent, ch, regex=False)
    s = s.str.replace(_NUM_ENTITY_RE, lambda m: chr(int(m.group(1))), regex=True)
    s = s.str.replace(_WS_RE, " ", regex=True).str.strip()
    return s.astype(object).fillna("")


def extract_text(html: pd.Series) -> pd.Series:
    """FROZEN deterministic html→text (byte-identical per url invariant).

    Accepts a Series of bytes or str; returns str.  Pipeline order is
    part of the contract: comments → script/style → tags → entities →
    whitespace-normalize → strip.  Composition of strip_markup (stage 1,
    also available JVM-side) and finish_extract (stage 2).
    """
    s = html
    if len(s) and isinstance(s.iloc[0], (bytes, bytearray)):
        s = s.map(lambda b: b.decode("utf-8", errors="replace"))
    s = s.astype("string").fillna("")
    return finish_extract(strip_markup(s))


# --------------------------------------------------------------- geocoder


def geocode(url: pd.Series, text: pd.Series) -> pd.DataFrame:
    """Ordered-rule geocoder → DataFrame(lat, lon, geocode_src).

    Deterministic, vectorized (pandas .str.extract — C regex), rules
    applied in fixed priority; unresolved rows get (nan, nan, 'none').

    r6 shape (same rule table, same outputs — pinned by the frozen
    `geocoded` golden hash and the cross-path equality tests): rules
    run HIGHEST priority first, each on the still-unresolved slice
    only, instead of lowest-first full-series passes with overwrite.
    A row that matches a higher rule never pays the lower rules'
    regexes (the 48-slug city alternation was 62% of the kernel), and
    the two coordinate rules get a C-substring prefilter on a literal
    their regex requires ("lat=" / ",").  A match with out-of-range
    coordinates stays UNRESOLVED and falls through to lower rules —
    exactly the old overwrite semantics.
    """
    url = url.astype("string").fillna("").reset_index(drop=True)
    text = text.astype("string").fillna("").reset_index(drop=True)
    n = len(url)
    lat = np.full(n, np.nan)
    lon = np.full(n, np.nan)
    src = np.full(n, "none", dtype=object)
    todo = np.ones(n, dtype=bool)

    def _coords_rule(series, pre_lit, rx, label):
        pre = todo & series.str.contains(pre_lit, regex=False).to_numpy(dtype=bool)
        idx = np.flatnonzero(pre)
        if idx.size == 0:
            return
        mm = series.iloc[idx].str.extract(rx)
        hit = mm[0].notna().to_numpy()
        if not hit.any():
            return
        la = mm[0][hit].astype(float).to_numpy()
        lo = mm[1][hit].astype(float).to_numpy()
        ok = (np.abs(la) <= 90.0) & (np.abs(lo) <= 180.0)
        tgt = idx[hit][ok]
        lat[tgt] = la[ok]
        lon[tgt] = lo[ok]
        src[tgt] = label
        todo[tgt] = False

    # rule 1 (highest): lat/lon query-string params — the regex needs
    # the literal "lat=".
    _coords_rule(url, "lat=", _QS_LATLON_RE, "latlon_qs")
    # rule 2: coordinate phrase in text — the regex needs "," (then any
    # \s, so not the literal ", ").
    _coords_rule(text, ",", _TEXT_COORD_RE, "coord_text")

    # rule 3: url path city slug
    idx = np.flatnonzero(todo)
    if idx.size:
        m = url.iloc[idx].str.extract(_URL_CITY_RE, expand=False)
        hit = m.notna().to_numpy()
        if hit.any():
            tgt = idx[hit]
            lat[tgt] = m[hit].map(_CITY_LAT).to_numpy(dtype=float)
            lon[tgt] = m[hit].map(_CITY_LON).to_numpy(dtype=float)
            src[tgt] = "city_url"
            todo[tgt] = False

    # rule 4: city slug in the text body.  The pattern is compiled
    # CASE-SENSITIVE and run on the lowered slice: identical matches
    # (the old IGNORECASE flag on already-lowered text was redundant
    # but disabled re's literal-prefix optimizations — measured 3.6×).
    idx = np.flatnonzero(todo)
    if idx.size:
        m = text.iloc[idx].str.lower().str.extract(_TEXT_CITY_CS_RE, expand=False)
        hit = m.notna().to_numpy()
        if hit.any():
            slugs = m[hit].str.replace(" ", "-", regex=False)
            tgt = idx[hit]
            lat[tgt] = slugs.map(_CITY_LAT).to_numpy(dtype=float)
            lon[tgt] = slugs.map(_CITY_LON).to_numpy(dtype=float)
            src[tgt] = "city_text"
            todo[tgt] = False

    # rule 5 (lowest): ccTLD → country centroid
    idx = np.flatnonzero(todo)
    if idx.size:
        m = url.iloc[idx].str.extract(_CCTLD_RE, expand=False)
        hit = (m.notna() & m.isin(_CC_LAT.keys())).to_numpy()
        if hit.any():
            tgt = idx[hit]
            lat[tgt] = m[hit].map(_CC_LAT).to_numpy(dtype=float)
            lon[tgt] = m[hit].map(_CC_LON).to_numpy(dtype=float)
            src[tgt] = "cctld"

    return pd.DataFrame({"lat": lat, "lon": lon, "geocode_src": src})


# ----------------------------------------------- text-analysis kernels

# tiny per-language stopword sets (n-gram heuristic seed, frozen constants)
_LANG_MARKERS = {
    "en": (" the ", " and ", " of ", " to ", " in "),
    "de": (" der ", " und ", " die ", " ist ", " nicht "),
    "fr": (" le ", " et ", " les ", " des ", " est "),
    "es": (" el ", " los ", " que ", " por ", " una "),
    "pt": (" o ", " em ", " uma ", " não ", " para "),
    "ru": (" и ", " в ", " не ", " что ", " это "),
    "ja": ("の", "に", "は", "を", "です"),
    "zh": ("的", "是", "在", "了", "我"),
}


def lang_id(text: pd.Series) -> pd.Series:
    """Marker-count language id (deterministic heuristic; ties → 'en'-first
    fixed language order)."""
    t = (" " + text.astype("string").fillna("") + " ").str.lower()
    best_lang = pd.Series(["und"] * len(t), dtype=object)
    best_score = np.zeros(len(t), dtype=np.int64)
    for lang, markers in _LANG_MARKERS.items():
        score = np.zeros(len(t), dtype=np.int64)
        for mk in markers:
            score += t.str.count(re.escape(mk)).to_numpy(dtype=np.int64)
        better = score > best_score
        best_score = np.where(better, score, best_score)
        best_lang = best_lang.where(~better, lang)
    return best_lang.where(best_score > 0, "und")


_TOKEN_RE = re.compile(r"[A-Za-z0-9]+(?:'[a-z]+)?|[^\sA-Za-z0-9]")


def token_count(text: pd.Series) -> pd.Series:
    """BPE-ish token count: word pieces + punctuation marks."""
    return text.astype("string").fillna("").str.count(_TOKEN_RE).astype("int64")


def whitespace_token_count(text: pd.Series) -> pd.Series:
    t = text.astype("string").fillna("").str.strip()
    n = t.str.count(r"\s+").astype("int64") + 1
    return n.where(t.str.len() > 0, 0)


def quality_score(text: pd.Series) -> pd.DataFrame:
    """Length/punctuation/stopword-ratio quality features + [0,1] score."""
    t = text.astype("string").fillna("")
    n_chars = t.str.len().astype("int64")
    n_tokens = whitespace_token_count(t)
    n_punct = t.str.count(r"[^\w\s]").astype("int64")
    n_stop = np.zeros(len(t), dtype=np.int64)
    low = " " + t.str.lower() + " "
    for mk in _LANG_MARKERS["en"]:
        n_stop += low.str.count(re.escape(mk)).to_numpy(dtype=np.int64)
    with np.errstate(divide="ignore", invalid="ignore"):
        punct_ratio = np.where(n_chars > 0, n_punct / n_chars.to_numpy(), 0.0)
        stop_ratio = np.where(n_tokens > 0, n_stop / n_tokens.to_numpy(), 0.0)
        mean_tok_len = np.where(
            n_tokens > 0, n_chars.to_numpy() / n_tokens.to_numpy(), 0.0
        )
    score = (
        np.clip(n_tokens.to_numpy() / 100.0, 0, 1) * 0.4
        + np.clip(stop_ratio * 10.0, 0, 1) * 0.3
        + np.clip(1.0 - punct_ratio * 5.0, 0, 1) * 0.3
    )
    return pd.DataFrame(
        {
            "n_chars": n_chars.to_numpy(dtype=np.int64),
            "n_tokens": n_tokens.to_numpy(dtype=np.int64),
            "punct_ratio": punct_ratio,
            "stop_ratio": stop_ratio,
            "mean_tok_len": mean_tok_len,
            "quality": score,
        }
    )


# --------------------------------------------------------- fingerprints

_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)


def fnv1a_u64(data: bytes) -> int:
    """Scalar FNV-1a 64-bit (frozen constant hash — no Python hash())."""
    h = 0xCBF29CE484222325
    for b in data:
        h ^= b
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def rolling_fingerprint(text: pd.Series, window: int = 8) -> pd.Series:
    """Document fingerprint: min FNV-1a over rolling byte windows
    (winnowing-style robust fingerprint; deterministic int64)."""
    out = np.zeros(len(text), dtype=np.uint64)
    vals = text.astype("string").fillna("").to_numpy()
    for idx, s in enumerate(vals):
        b = s.encode("utf-8")
        if len(b) <= window:
            out[idx] = fnv1a_u64(b)
            continue
        arr = np.frombuffer(b, dtype=np.uint8)
        n = len(arr) - window + 1
        h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
        for k in range(window):
            h ^= arr[k : k + n].astype(np.uint64)
            h *= _FNV_PRIME
        out[idx] = h.min()
    return pd.Series(out.view(np.int64))
