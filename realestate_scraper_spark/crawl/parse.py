"""Parse cores — the adapter UDF surface (SURVEY.md §2.10) vectorized.

The fused fetch+parse stage (crawl/fetch.make_fetch_parse_stage) calls these
per page in place of the reference's per-URL BeautifulSoup calls:

- ``_HREF_RE`` — listing HTML → hrefs in DOM order. DOM position is the
  crawl-order ``slot`` (W3): the reference yields cards in document order
  (otodom.py:592-614). 1→many, like ``discover``.
- :func:`append_parsed_offer` — offer HTML → raw field values. Implements
  the reference's merge cascade LD+JSON → ``__NEXT_DATA__`` → CSS fallback
  (otodom.py:640-653): each extractor fills only fields still missing.
  Values are plain Python (``None`` when missing), appended to column
  lists that the fused stage turns into one Arrow batch as-is.

Everything downstream of the fused stage (reconciliation F17/F18, bbox gate
P5, completeness gate P2, offer-id extraction F5, photo explode W1/W2) is
pure Spark expressions — see crawl/refine.py.
"""

from __future__ import annotations

import json
import re

OFFER_FIELDS = (
    "url string, url_canon string, source string, page_idx int, slot int, "
    "sub_slot int, parse_ok boolean, raw_price double, raw_currency string, "
    "raw_ppm2 double, raw_area double, raw_rooms int, raw_city string, "
    "raw_lat double, raw_lon double, "
    "photo_urls array<struct<url: string, w: int>>, "
    "raw_title string, raw_district string, raw_street string, "
    "raw_floor int, raw_floors int, raw_market string, raw_ptype string, "
    "raw_posted string, raw_updated string, raw_year int, "
    "raw_features array<string>"
)

_HREF_RE = re.compile(r'<a href="([^"]+)"')
_LDJSON_RE = re.compile(
    r'<script type="application/ld\+json">(.*?)</script>', re.S
)
_NEXTDATA_RE = re.compile(
    r'<script id="__NEXT_DATA__" type="application/json">(.*?)</script>', re.S
)
_PRICE_RE = re.compile(r'<strong class="price">([^<]*)</strong>')
_PPM2_RE = re.compile(r'<span class="ppm2">([\d\s .,]+)\s*zł/m²</span>')
_AREA_RE = re.compile(r'<span class="area">([\d,\.]+)\s*m²</span>')
_AREA_TEXT_RE = re.compile(r"(\d+(?:[.,]\d+)?)\s*m²")
_ROOMS_RE = re.compile(r'<span class="rooms">(\d+)\s*pokoje</span>')
_CITY_RE = re.compile(r'<div class="address">([^<]*)</div>')
_GEO_RE = re.compile(r'<meta name="geo" content="([-\d.]+);([-\d.]+)">')
_SRCSET_RE = re.compile(r'<img srcset="([^"]*)">')
_TITLE_RE = re.compile(r'<h1 class="title">([^<]*)</h1>')
_DISTRICT_RE = re.compile(r'<span class="district">([^<]*)</span>')
_STREET_RE = re.compile(r'<span class="street">([^<]*)</span>')
_FLOOR_RE = re.compile(r'<span class="floor">(\d+)/(\d+)</span>')
_MARKET_RE = re.compile(r'<span class="market">([^<]*)</span>')
_PTYPE_RE = re.compile(r'<span class="ptype">([^<]*)</span>')
# F16 (morizon.py:26-30): hydrated map bounds — NE marker, SW marker; the
# offer point is the bbox CENTRE (morizon.py:115-138)
_HYDRATED_BOUNDS_RE = re.compile(
    r'\{"latitude":\d+,"longitude":\d+\}\s*,\s*(\d{2}\.\d+)\s*,\s*(\d{2}\.\d+)'
    r'\s*,\s*\{"latitude":\d+,"longitude":\d+\}\s*,\s*(\d{2}\.\d+)\s*,\s*(\d{2}\.\d+)',
    re.I,
)
_POSTED_RE = re.compile(r'<span class="posted">([^<]*)</span>')
_UPDATED_RE = re.compile(r'<span class="updated">([^<]*)</span>')
_YEAR_RE = re.compile(r'<span class="year">(-?\d+)</span>')
_FEATURE_RE = re.compile(r'<li class="feature">([^<]*)</li>')
_NUM_CLEAN = re.compile(r"[\s ]")


# ------------------------------------------------------------ offer parse
def _parse_price_text(txt: str) -> float | None:
    """F9: `1 234 567 zł` (NBSP-separated) → float; inquiry text → None."""
    cleaned = _NUM_CLEAN.sub("", txt)
    m = re.search(r"(\d+(?:[.,]\d+)?)", cleaned)
    if not m:
        return None  # e.g. "Zapytaj o cenę" (morizon.py:537-541)
    return float(m.group(1).replace(",", "."))


def _fill(out: dict, key: str, value) -> None:
    """Merge-priority fill: a later extractor only fills fields the earlier
    ones left missing/None (otodom.py:640-653 cascade semantics)."""
    if value is not None and out.get(key) is None:
        out[key] = value


def _from_ldjson(html: str, out: dict) -> None:
    m = _LDJSON_RE.search(html)
    if not m:
        return
    try:
        d = json.loads(m.group(1))
    except json.JSONDecodeError:
        return
    _fill(out, "price", d.get("price"))
    _fill(out, "currency", d.get("priceCurrency"))
    _fill(out, "ppm2", d.get("pricePerM2"))
    geo = d.get("geo") or {}
    _fill(out, "lat", geo.get("latitude"))
    _fill(out, "lon", geo.get("longitude"))
    addr = d.get("address") or {}
    _fill(out, "city", addr.get("addressLocality"))
    fs = d.get("floorSize") or {}
    _fill(out, "area", fs.get("value"))
    _fill(out, "rooms", d.get("numberOfRooms"))
    imgs = d.get("image") or []
    _fill(
        out,
        "photos",
        [(u if isinstance(u, str) else u.get("url"), None) for u in imgs] or None,
    )
    _fill(out, "title", d.get("name"))
    _fill(out, "district", d.get("district"))
    _fill(out, "street", d.get("street"))
    _fill(out, "floor", d.get("floor"))
    _fill(out, "floors", d.get("floors"))
    _fill(out, "market", d.get("marketType"))
    _fill(out, "ptype", d.get("propertyType"))
    _fill(out, "posted", d.get("datePosted"))
    _fill(out, "updated", d.get("dateUpdated"))
    _fill(out, "year", d.get("yearBuilt"))
    _fill(out, "features", d.get("features"))


def _from_nextdata(html: str, out: dict) -> None:
    m = _NEXTDATA_RE.search(html)
    if not m:
        return
    try:
        d = json.loads(m.group(1))
    except json.JSONDecodeError:
        return
    ad = ((d.get("props") or {}).get("pageProps") or {}).get("ad") or {}
    tgt = ad.get("target") or {}
    _fill(out, "price", tgt.get("Price"))
    _fill(out, "ppm2", tgt.get("Price_per_m"))
    _fill(out, "area", tgt.get("Area"))
    _fill(out, "rooms", tgt.get("Rooms_num"))
    _fill(out, "city", tgt.get("City"))
    loc = (ad.get("location") or {}).get("coordinates") or {}
    _fill(out, "lat", loc.get("latitude"))
    _fill(out, "lon", loc.get("longitude"))
    _fill(
        out,
        "photos",
        [(i.get("large"), None) for i in ad.get("images") or [] if i.get("large")]
        or None,
    )
    _fill(out, "currency", "PLN" if tgt.get("Price") is not None else None)
    _fill(out, "title", tgt.get("Title"))
    _fill(out, "district", tgt.get("District"))
    _fill(out, "street", tgt.get("Street"))
    _fill(out, "floor", tgt.get("Floor_no"))
    _fill(out, "floors", tgt.get("Building_floors_num"))
    _fill(out, "market", tgt.get("MarketType"))
    _fill(out, "ptype", tgt.get("ProperType"))
    _fill(out, "posted", tgt.get("DatePosted"))
    _fill(out, "updated", tgt.get("DateUpdated"))
    _fill(out, "year", tgt.get("Build_year"))
    _fill(out, "features", tgt.get("Features"))


def _parse_srcset(srcset: str) -> tuple[str, int] | None:
    """F27/W4: pick the max-width variant (url, width) from a srcset list.
    The width travels into the photos table (validate.py:58-60 keeps
    width/height on the Photo model; round 1 discarded it)."""
    best_url, best_w = None, -1
    for part in srcset.split(","):
        part = part.strip()
        m = re.match(r"(\S+)\s+(\d+)w", part)
        if m and int(m.group(2)) > best_w:
            best_url, best_w = m.group(1), int(m.group(2))
    return (best_url, best_w) if best_url is not None else None


def _from_css(html: str, out: dict) -> None:
    m = _PRICE_RE.search(html)
    if m:
        _fill(out, "price", _parse_price_text(m.group(1)))
        if out.get("price") is not None:
            _fill(out, "currency", "PLN")
    m = _PPM2_RE.search(html)
    if m:
        _fill(out, "ppm2", float(_NUM_CLEAN.sub("", m.group(1)).replace(",", ".")))
    m = _AREA_RE.search(html)
    if m:
        _fill(out, "area", float(m.group(1).replace(",", ".")))
    else:
        # W5 fallback (morizon.py:299-309): no structured area — take the
        # largest PLAUSIBLE (10..1000 m²) candidate from free text
        cands = [
            float(x.replace(",", "."))
            for x in _AREA_TEXT_RE.findall(html)
        ]
        plausible = [v for v in cands if 10.0 <= v <= 1000.0]
        if plausible:
            _fill(out, "area", max(plausible))
    m = _ROOMS_RE.search(html)
    if m:
        _fill(out, "rooms", int(m.group(1)))
    m = _CITY_RE.search(html)
    if m:
        _fill(out, "city", m.group(1))
    m = _GEO_RE.search(html)
    if m:
        _fill(out, "lat", float(m.group(1)))
        _fill(out, "lon", float(m.group(2)))
    if out.get("lat") is None:
        # F16 fallback rung: centre of the hydrated map bounds, with the
        # reference's PL-plausibility check + defensive axis swap
        # (morizon.py:115-138)
        m = _HYDRATED_BOUNDS_RE.search(html)
        if m:
            la = (float(m.group(1)) + float(m.group(3))) / 2.0
            lo = (float(m.group(2)) + float(m.group(4))) / 2.0
            if 49.0 <= la <= 54.9 and 14.0 <= lo <= 24.5:
                _fill(out, "lat", la)
                _fill(out, "lon", lo)
            elif 49.0 <= lo <= 54.9 and 14.0 <= la <= 24.5:
                _fill(out, "lat", lo)
                _fill(out, "lon", la)
    photos = [
        p for p in (_parse_srcset(s) for s in _SRCSET_RE.findall(html)) if p
    ]
    if photos:
        _fill(out, "photos", photos)
    for rex, key in (
        (_TITLE_RE, "title"), (_DISTRICT_RE, "district"),
        (_STREET_RE, "street"), (_MARKET_RE, "market"), (_PTYPE_RE, "ptype"),
        (_POSTED_RE, "posted"), (_UPDATED_RE, "updated"),
    ):
        m = rex.search(html)
        if m:
            _fill(out, key, m.group(1))
    m = _FLOOR_RE.search(html)
    if m:
        _fill(out, "floor", int(m.group(1)))
        _fill(out, "floors", int(m.group(2)))
    m = _YEAR_RE.search(html)
    if m:
        _fill(out, "year", int(m.group(1)))
    feats = _FEATURE_RE.findall(html)
    if feats:
        _fill(out, "features", feats)


RAW_COL_NAMES = (
    "parse_ok", "raw_price", "raw_currency", "raw_ppm2", "raw_area",
    "raw_rooms", "raw_city", "raw_lat", "raw_lon", "photo_urls",
    "raw_title", "raw_district", "raw_street", "raw_floor",
    "raw_floors", "raw_market", "raw_ptype", "raw_posted",
    "raw_updated", "raw_year", "raw_features",
)


def append_parsed_offer(cols: dict[str, list], html: str | None) -> None:
    """Run the merge cascade on one page and append the 21 raw values to
    ``cols`` (the per-row core of the fused fetch+parse stage in
    crawl/fetch.py)."""
    out: dict = {}
    if html is not None:
        _from_ldjson(html, out)
        _from_nextdata(html, out)
        _from_css(html, out)
    get = out.get
    cols["parse_ok"].append(bool(out))
    cols["raw_price"].append(
        float(get("price")) if get("price") is not None else None
    )
    cols["raw_currency"].append(get("currency"))
    cols["raw_ppm2"].append(
        float(get("ppm2")) if get("ppm2") is not None else None
    )
    cols["raw_area"].append(
        float(get("area")) if get("area") is not None else None
    )
    cols["raw_rooms"].append(
        int(get("rooms")) if get("rooms") is not None else None
    )
    cols["raw_city"].append(get("city"))
    cols["raw_lat"].append(
        float(get("lat")) if get("lat") is not None else None
    )
    cols["raw_lon"].append(
        float(get("lon")) if get("lon") is not None else None
    )
    cols["photo_urls"].append(
        [{"url": u, "w": w} for u, w in (get("photos") or [])]
    )
    cols["raw_title"].append(get("title"))
    cols["raw_district"].append(get("district"))
    cols["raw_street"].append(get("street"))
    cols["raw_floor"].append(
        int(get("floor")) if get("floor") is not None else None
    )
    cols["raw_floors"].append(
        int(get("floors")) if get("floors") is not None else None
    )
    cols["raw_market"].append(get("market"))
    cols["raw_ptype"].append(get("ptype"))
    cols["raw_posted"].append(get("posted"))
    cols["raw_updated"].append(get("updated"))
    cols["raw_year"].append(
        int(get("year")) if get("year") is not None else None
    )
    feats = get("features")
    cols["raw_features"].append(
        [str(x) for x in feats] if feats is not None else None
    )
