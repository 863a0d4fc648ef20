"""simweb — the deterministic synthetic web (SURVEY.md §5.3, FIXTURES.md §3).

There is no network in this sandbox and the reference snapshot is empty
(SURVEY.md §0), so "fetching" a URL means evaluating this pure function of
``url_hash = xxhash64(canon_url)`` (Spark seed-42 xxhash64; the Python twin in
functions/hashing.py is pinned bit-equal in tests). The single-threaded oracle
and the Spark engine import the *same* module, so corpus/outlink equality
between them is meaningful.

Fixture parameters (FIXTURES.md §3, seed 42):

- hosts: H = 1000, names ``host{z}.example``; outlink hosts drawn
  Zipf(s = 1.2) over H via inverse-CDF on a uniform sub-hash → host0 ≈ 20%
  of links (hot-host skew).
- outlinks/page: ``n = h64(u) % 12``; link i =
  ``https://host{zipf(h64(u*13+i))}.example/page/{h64(u*17+i) % 10_000}``.
- image present iff ``h64(u*5) % 10 < 3`` (~30%); image keyed on u:
  w = 32 + (h64(u*3) % 15)*16, h = 32 + (h64(u*31) % 15)*16,
  fmt = FMTS[u % 3], pixels = default_rng(42 + u % 2**32) uint8 RGB,
  caption = ``4 + h64(u*11) % 9`` words, word i = WORDLIST[h64(u*7+i) % 64].
- robots.txt: host_id % 5 == 0 → ``Disallow: /page/9`` (longest-prefix,
  RFC 9309); all other hosts allow-all.
- politeness: crawl_delay_rounds = 1 + host_id % 3,
  tokens_per_round = 2 + host_id % 4.

All u arithmetic is unsigned mod 2**64 (wraps exactly like int64 Spark
columns reinterpreted unsigned).
"""

from __future__ import annotations

import numpy as np

from .codecs import FMTS, encode_image, phash64
from .functions.hashing import h64, xxh64_u64_vec

_M64 = 0xFFFFFFFFFFFFFFFF
HOSTS = 1000
ZIPF_S = 1.2
PAGES_PER_HOST = 10_000
MAX_LINKS = 12

WORDLIST = [
    "amber", "anchor", "arc", "ash", "atlas", "aurora", "basalt", "beacon",
    "birch", "bloom", "breeze", "briar", "canyon", "cedar", "cinder", "cliff",
    "cloud", "comet", "coral", "cove", "crag", "crest", "dale", "dawn",
    "delta", "drift", "dusk", "ember", "fern", "fjord", "flint", "gale",
    "glade", "glen", "grove", "harbor", "hazel", "heath", "isle", "juniper",
    "karst", "kelp", "lagoon", "larch", "lichen", "marsh", "mesa", "mist",
    "moss", "oasis", "onyx", "opal", "pine", "quartz", "reef", "ridge",
    "river", "shale", "sierra", "slate", "spruce", "summit", "tundra", "vale",
]
assert len(WORDLIST) == 64

# Zipf(s=1.2) CDF over host ranks 1..H; host id = rank - 1 (host0 hottest).
_w = np.arange(1, HOSTS + 1, dtype=np.float64) ** (-ZIPF_S)
_ZIPF_CDF = np.cumsum(_w) / _w.sum()


def _mul(a: int, b: int) -> int:
    return (a * b) & _M64


def _add(a: int, b: int) -> int:
    return (a + b) & _M64


def u64(url_hash: int) -> int:
    """Signed int64 (Spark) → unsigned key."""
    return url_hash & _M64


def host_name(z: int) -> str:
    return f"host{z}.example"


def seed_urls(n: int) -> list[str]:
    """Seed list: n URLs, host z = i % HOSTS, path /page/0 (FIXTURES.md §2).

    File order == list order == disc_seq 0..n-1 (rule R4).
    """
    return [f"https://{host_name(i % HOSTS)}/page/0" for i in range(n)]


def _zipf_host(uniform_hash: int) -> int:
    u = uniform_hash / 2.0**64
    return int(np.searchsorted(_ZIPF_CDF, u, side="right"))


def n_outlinks(u: int) -> int:
    return h64(u) % MAX_LINKS


def outlinks_for(url_hash: int) -> list[str]:
    """Scalar (oracle) outlink extraction. Order = position in page (R4)."""
    u = u64(url_hash)
    n = n_outlinks(u)
    links = []
    for i in range(n):
        z = _zipf_host(h64(_add(_mul(u, 13), i)))
        pid = h64(_add(_mul(u, 17), i)) % PAGES_PER_HOST
        links.append(f"https://{host_name(z)}/page/{pid}")
    return links


def has_image(url_hash: int) -> bool:
    return h64(_mul(u64(url_hash), 5)) % 10 < 3


def image_dims_fmt(url_hash: int) -> tuple[int, int, str]:
    u = u64(url_hash)
    w = 32 + (h64(_mul(u, 3)) % 15) * 16
    h = 32 + (h64(_mul(u, 31)) % 15) * 16
    return w, h, FMTS[u % 3]


def rgb_for(url_hash: int) -> np.ndarray:
    u = u64(url_hash)
    w, h, _ = image_dims_fmt(url_hash)
    rng = np.random.default_rng(42 + (u % 2**32))
    return rng.integers(0, 256, (h, w, 3), dtype=np.uint8)


def caption_for(url_hash: int) -> str:
    u = u64(url_hash)
    n = 4 + h64(_mul(u, 11)) % 9
    return " ".join(WORDLIST[h64(_add(_mul(u, 7), i)) % 64] for i in range(n))


def image_for(url_hash: int) -> dict | None:
    """Scalar (oracle) image fetch: None or full corpus-row fields."""
    if not has_image(url_hash):
        return None
    w, h, fmt = image_dims_fmt(url_hash)
    rgb = rgb_for(url_hash)
    return {
        "bytes": encode_image(rgb, fmt),
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption_for(url_hash),
        "phash": phash64(rgb),
    }


def fetch(url_hash: int) -> dict:
    """Scalar (oracle) fetch: status, outlinks, optional image."""
    return {
        "status": 200,
        "outlinks": outlinks_for(url_hash),
        "image": image_for(url_hash),
    }


# --- robots / politeness dimension ----------------------------------------


def robots_rules(host_id: int) -> list[dict]:
    """RFC 9309-style prefix rules; empty list = allow-all."""
    if host_id % 5 == 0:
        return [{"allow": False, "prefix": "/page/9"}]
    return []


def politeness(host_id: int) -> tuple[int, int]:
    """(crawl_delay_rounds, tokens_per_round)."""
    return 1 + host_id % 3, 2 + host_id % 4


def host_id_of(host: str) -> int:
    # host{z}.example
    return int(host[4 : host.index(".")])


def host_state_rows(last_round: int = -(10**6)) -> list[dict]:
    """Full politeness dimension for all HOSTS hosts (broadcast-sized)."""
    rows = []
    for z in range(HOSTS):
        delay, tokens = politeness(z)
        rows.append(
            {
                "host": host_name(z),
                "crawl_delay_rounds": delay,
                "tokens_per_round": tokens,
                "robots_rules": robots_rules(z),
                "last_round": last_round,
            }
        )
    return rows


# --- vectorized (engine) path ----------------------------------------------


def outlinks_batch_arrow(url_hash: np.ndarray):
    """Arrow-native outlink extraction: returns (offsets, flat_urls) for a
    ``pa.ListArray`` — the same links as ``outlinks_for`` per row
    (property-tested) but assembled entirely inside numpy + pyarrow compute,
    so no Python string object is ever created — per-link strings would be
    ~1M interpreter-built objects per 2M-URL frontier round (guide §4.2:
    hand whole batches to vectorized native kernels)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    u = url_hash.astype(np.int64).view(np.uint64)
    m = len(u)
    if m == 0:
        return np.zeros(1, dtype=np.int32), pa.array([], type=pa.string())
    n = (xxh64_u64_vec(u) % np.uint64(MAX_LINKS)).astype(np.int64)
    with np.errstate(over="ignore"):
        base13 = u * np.uint64(13)
        base17 = u * np.uint64(17)
        i_cols = np.arange(MAX_LINKS, dtype=np.uint64)
        hz = xxh64_u64_vec((base13[:, None] + i_cols[None, :]).ravel()).reshape(
            m, MAX_LINKS
        )
        pid = (
            xxh64_u64_vec((base17[:, None] + i_cols[None, :]).ravel()).reshape(
                m, MAX_LINKS
            )
            % np.uint64(PAGES_PER_HOST)
        ).astype(np.int64)
    z = np.searchsorted(_ZIPF_CDF, hz / 2.0**64, side="right")
    # row-major mask flattening keeps (row, link-position) order — R4
    mask = np.arange(MAX_LINKS)[None, :] < n[:, None]
    flat = pc.binary_join_element_wise(
        "https://host",
        pc.cast(pa.array(z[mask]), pa.string()),
        ".example/page/",
        pc.cast(pa.array(pid[mask]), pa.string()),
        "",
    )
    offsets = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(n)]).astype(
        np.int32
    )
    return offsets, flat


def images_batch(url_hash: np.ndarray, with_bytes: bool = True) -> dict:
    """Vectorized image fetch for a batch: dict of aligned arrays/lists.

    has_image / dims / fmt are fully vectorized; pixel generation + encoding
    is inherently per-image work (it stands in for network fetch + decode).
    """
    u = url_hash.astype(np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        has = (xxh64_u64_vec(u * np.uint64(5)) % np.uint64(10)) < np.uint64(3)
        w = (32 + (xxh64_u64_vec(u * np.uint64(3)) % np.uint64(15)) * np.uint64(16)).astype(np.int32)
        h = (32 + (xxh64_u64_vec(u * np.uint64(31)) % np.uint64(15)) * np.uint64(16)).astype(np.int32)
    fmt_idx = (u % np.uint64(3)).astype(np.int64)
    m = len(u)
    bytes_out: list[bytes | None] = [None] * m
    caption: list[str | None] = [None] * m
    phash = np.zeros(m, dtype=np.int64)
    for r in range(m):
        if not has[r]:
            continue
        sh = int(u[r].view(np.int64))
        caption[r] = caption_for(sh)
        rgb = rgb_for(sh)
        phash[r] = phash64(rgb)
        if with_bytes:
            bytes_out[r] = encode_image(rgb, FMTS[fmt_idx[r]])
    return {
        "has_image": has,
        "w": w,
        "h": h,
        "fmt": [FMTS[i] for i in fmt_idx],
        "bytes": bytes_out,
        "caption": caption,
        "phash": phash,
    }
