"""Independent single-threaded pandas/numpy oracle of the full cascade.

SURVEY.md §5 T2: the engine's golden reference — same *contract* as the
Spark pipeline (rule definitions, priorities, deterministic near-dup
algorithm), implemented with none of its machinery (no Spark imports).
Intentionally boring, row-at-a-time where that is clearest.

The reference's analog is its documented golden-run breakdown
(reference documentation/MATCHING_PROCESS.md:121-137) — an
oracle-by-documentation; ours is executable.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from ..fixtures.norm_tables import ALL_STOPWORDS, LANGS, PII_PATTERNS, STOPWORDS, TOXICITY_TERMS
from ..operators.rules import RULE_DECISION, RULE_PRIORITY, RULE_SEVERITY, RuleConfig

# Explicit ASCII whitespace class (functions/text.WS_CLASS twin):
# re.ASCII \s equals it, but the engines standardized on the explicit
# charset (RE2/DuckDB's \s excludes \x0b) — mirror it verbatim here.
_ASCII_WS = " \t\n\x0b\x0c\r"
_SYMBOL_RE = re.compile(r"[^A-Za-z0-9 \t\n\x0b\x0c\r]")
_WS_RE = re.compile(r"[ \t\n\x0b\x0c\r]+")
_TOX_RE = re.compile(r"\b(" + "|".join(re.escape(t) for t, _ in TOXICITY_TERMS) + r")\b")
_PLACEHOLDER_RE = re.compile(r"<EMAIL>|<URL>|<PHONE>|<ID>|<TOX>")


def _words(cap: str | None) -> list[str]:
    if cap is None or not cap.strip(_ASCII_WS):
        return []
    return _WS_RE.split(cap.strip(_ASCII_WS).lower())


def _symbol_ratio(cap: str | None) -> float:
    s = _WS_RE.sub("", cap or "")
    if not s:
        return 0.0
    return len(_SYMBOL_RE.findall(s)) / len(s)


def _scrub(cap: str | None) -> str | None:
    if cap is None:
        return None
    out = cap
    for _, pat, repl in PII_PATTERNS:
        out = re.sub(pat, repl, out)
    return _TOX_RE.sub("<TOX>", out)


def _langid_markers(cap: str | None) -> tuple[str, float]:
    w = _words(cap)
    if not w:
        return "und", 0.0
    # exact mirror of the engine's array_max(struct(hits, lang)):
    # lexicographic max on (hits, lang) — ties go to the max lang name.
    best_hits, best_lang = max(
        (sum(1 for x in w if x in STOPWORDS[lang]), lang) for lang in LANGS
    )
    if best_hits == 0:
        return "und", 0.0
    return best_lang, best_hits / len(w)


def _popcount(x: int) -> int:
    return bin(x & 0xFFFFFFFFFFFFFFFF).count("1")


def _components(phashes: list[int], radius: int) -> list[int]:
    n = len(phashes)
    parent = list(range(n))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(n):
        for j in range(i + 1, n):
            if _popcount(phashes[i] ^ phashes[j]) <= radius:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[rj] = ri
    return [find(i) for i in range(n)]


def neardup_oracle(
    pairs: pd.DataFrame,
    bits: int = 16,
    radius: int = 3,
    sub_bits: int = 8,
    hot_threshold: int = 4096,
    bridge: str = "multiprobe",
) -> pd.DataFrame:
    """Same deterministic contract as operators/neardup.py, in pandas.

    Step order mirrors the engine: (1) bucket, (2) supergroups from the
    bucket-pair graph of discoverable within-radius pairs (multiprobe:
    exactly-one-window-bit diffs; bands: any cross-bucket pair within
    radius), (3) salting of hot supergroups by ROW count, (4)
    components within (sg, sub), (5) min-image_id labels, (6) 2*radius
    rep merge within hot supergroups.
    """
    df = pairs[["image_id", "phash"]].dropna(subset=["phash"]).copy()
    ph = df["phash"].to_numpy().astype(np.uint64)
    mask = np.uint64((1 << bits) - 1)
    imask = (1 << bits) - 1
    df["bucket"] = (ph & mask).astype(np.int64)

    # supergroups: union-find over buckets linked by a discoverable pair
    # (computed over DISTINCT hashes, like the engine's node table)
    nodes = df[["phash", "bucket"]].drop_duplicates()
    nph = nodes["phash"].to_numpy().astype(np.uint64)
    nbk = nodes["bucket"].to_numpy()
    bparent: dict[int, int] = {}

    def _bfind(b: int) -> int:
        while bparent.get(b, b) != b:
            bparent[b] = bparent.get(bparent[b], bparent[b])
            b = bparent[b]
        return b

    for i in range(len(nodes)):
        for j in range(i + 1, len(nodes)):
            x = int(nph[i] ^ nph[j])
            if _popcount(x) > radius:
                continue
            wb = _popcount(x & imask)
            linked = wb == 1 if bridge == "multiprobe" else wb >= 1
            if linked:
                ri, rj = _bfind(int(nbk[i])), _bfind(int(nbk[j]))
                if ri != rj:
                    bparent[max(ri, rj)] = min(ri, rj)
    df["sg"] = df["bucket"].map(lambda b: _bfind(int(b)))

    sizes = df.groupby("sg")["image_id"].transform("size")
    df["is_hot"] = sizes > hot_threshold
    sub = (ph >> np.uint64(bits)) & np.uint64((1 << sub_bits) - 1)
    df["sub"] = np.where(df["is_hot"], sub.astype(np.int64), 0)

    df["local_cluster"] = ""
    for (_, _), g in df.groupby(["sg", "sub"]):
        roots = _components([int(x) for x in g["phash"].astype(np.uint64)], radius)
        ids = g["image_id"].to_numpy(dtype=object)
        comp_min = pd.Series(ids).groupby(roots).transform("min").to_numpy()
        df.loc[g.index, "local_cluster"] = comp_min

    # pass 2: merge hot-supergroup sub-clusters via reps, threshold 2*radius
    df["cluster_id"] = df["local_cluster"]
    hot = df[df["is_hot"]]
    for sg, g in hot.groupby("sg"):
        reps = g[g["image_id"] == g["local_cluster"]]
        roots = _components(
            [int(x) for x in reps["phash"].astype(np.uint64)], 2 * radius
        )
        loc = reps["local_cluster"].to_numpy(dtype=object)
        glob = pd.Series(loc).groupby(roots).transform("min").to_numpy()
        m = dict(zip(loc, glob))
        sel = df["sg"] == sg
        df.loc[sel, "cluster_id"] = df.loc[sel, "local_cluster"].map(m)

    sizes2 = df.groupby("cluster_id")["image_id"].transform("size")
    df["cluster_size"] = sizes2.astype(int)
    df["is_cluster_rep"] = df["image_id"] == df["cluster_id"]
    return df[["image_id", "cluster_id", "cluster_size", "is_cluster_rep"]]


def _decode_ok(r) -> bool:
    """Mirror of functions/image.decode_validate_inline's ``dec_ok``."""
    from ..functions.image import (
        decode_image,
        ground_truth_seed,
        psnr,
        synth_pixels,
    )

    px, w, h, fmt, e = decode_image(r.bytes)
    if e is not None:
        return False
    if w != r.w or h != r.h:
        return False
    if fmt == "png":
        # lossless and CRC-checked, and a real-world PNG may carry an
        # unrelated tEXt seed: decode success is the verdict
        return True
    # a lossy stream without a seed channel has no ground truth; seeded
    # ones (real JFIF, synthetic jpeg) must reach 40 dB
    seed = ground_truth_seed(r.bytes)
    return seed is None or psnr(px, synth_pixels(seed, w, h)) >= 40.0


def run_oracle(
    pairs: pd.DataFrame,
    overrides: pd.DataFrame | None = None,
    cfg: RuleConfig | None = None,
    neardup_kwargs: dict | None = None,
    use_decode: bool = True,
) -> pd.DataFrame:
    cfg = cfg or RuleConfig()
    nd = neardup_oracle(pairs, **(neardup_kwargs or {}))
    nd_map = nd.set_index("image_id")

    ov_map: dict[str, str] = {}
    if overrides is not None and len(overrides):
        # conflicting rows resolve by max(forced_decision) — the
        # engine's deterministic tie-break (apply_overrides); a
        # last-row-wins dict would depend on input file order
        ov_map = (
            overrides.groupby("image_id")["forced_decision"].max().to_dict()
        )

    sw = set(ALL_STOPWORDS)
    out_rows = []
    for r in pairs.itertuples(index=False):
        cap = r.caption if isinstance(r.caption, str) else None
        w = _words(cap)
        nw = len(w)
        lang, conf = _langid_markers(cap)
        scrubbed = _scrub(cap)
        residue = _PLACEHOLDER_RE.sub("", scrubbed or "").strip(_ASCII_WS)

        in_nd = r.image_id in nd_map.index
        is_rep = bool(nd_map.loc[r.image_id, "is_cluster_rep"]) if in_nd else True
        cluster_id = nd_map.loc[r.image_id, "cluster_id"] if in_nd else r.image_id
        cluster_size = int(nd_map.loc[r.image_id, "cluster_size"]) if in_nd else 1

        hits: dict[str, bool] = {
            "corrupt_image": (
                pd.isna(r.w)
                or pd.isna(r.h)
                or r.w <= 0
                or r.h <= 0
                or not isinstance(r.fmt, str)
                or r.fmt not in ("png", "jpeg")
                or (use_decode and not _decode_ok(r))
            ),
            "empty_caption": cap is None or not cap.strip(_ASCII_WS),
            "caption_too_short": nw < cfg.min_words,
            "caption_too_long": nw > cfg.max_words,
            "repetition": (1 - len(set(w)) / nw if nw else 0.0) >= cfg.max_repetition,
            "symbol_ratio": _symbol_ratio(cap) >= cfg.max_symbol_ratio,
            "low_stopword_density": nw >= cfg.stopword_rule_min_words
            and (sum(1 for x in w if x in sw) / nw) < cfg.min_stopword_density,
            "pii_only_after_scrub": cap is not None
            and bool(cap.strip(_ASCII_WS))
            and not residue,
            "langid_undetermined": lang == "und",
            "high_perplexity": False,  # marker path has no ppl signal
            "near_duplicate": not is_rep,
            "scrub": cap is not None and scrubbed != cap,
        }
        # per-rule enable switches (mirror of cascade.run_cascade)
        for name in list(hits):
            if not cfg.rule_enabled(name):
                hits[name] = False

        rule = "keep"
        for name in sorted(hits, key=lambda n: RULE_PRIORITY[n]):
            if hits[name]:
                rule = name
                break
        decision = RULE_DECISION[rule]
        # caption_scrubbed is fixed by the *rule* decision, before any
        # override flips the decision (engine applies scrub first too).
        cap_out = scrubbed if decision == "scrub" else cap
        reasons = [n for n in sorted(hits, key=lambda n: RULE_PRIORITY[n]) if hits[n]]
        if r.image_id in ov_map:
            decision, rule = ov_map[r.image_id], "override"
            reasons = ["override"] + reasons
        out_rows.append(
            dict(
                image_id=r.image_id,
                decision=decision,
                rule=rule,
                severity=RULE_SEVERITY[rule],
                reasons=reasons,
                caption_scrubbed=cap_out,
                cluster_id=cluster_id,
                cluster_size=cluster_size,
                is_cluster_rep=is_rep,
                lang=lang,
                lang_conf=conf,
            )
        )
    return pd.DataFrame(out_rows)
