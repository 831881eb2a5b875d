"""Seeded generator of raw ad-library JSON for the `etl_ads` workload.

Each file is one pretty-printed JSON document: an array of ad groups, each
an array of raw ad objects (the shape `AdPipeline.runFiles` reads). The
generator varies the properties the pipeline's cost depends on and records
them, and it replays the pipeline's semantics (validate -> three keep-first
dedup passes -> active top-10 report) over what it wrote, so the expected
output of a run is known without running the engine:

- group sizes, which set the survivors of the `ad_group_id` dedup pass;
- duplicate `ad_id`s across groups;
- an invalid share covering every `validation_error` class;
- the DCO/CAROUSEL card mix;
- the language mix and text length, which set the `LangId` cost.
"""
import json
import os
import random
from decimal import Decimal, ROUND_HALF_EVEN

NOW = 1720000000  # the injected clock the harness passes to runFiles
MIN_EPOCH, MAX_EPOCH = -62135596800, 253402300799
TOP_K = 10

# Stopwords of a few LangId languages plus neutral filler; the mix sets how
# many distinct tokens the LangIdHits kernel looks up per row.
VOCAB = {
    "en": "the and is of to in this that for with".split(),
    "es": "el la los las y en que es un una por".split(),
    "de": "der die das und ist von mit den nicht ein eine".split(),
    "fr": "le les et est dans une pour avec sont ici".split(),
    "it": "il che non per sono della questo anche come alla".split(),
    "nl": "het een van niet ook maar voor zijn wordt heeft".split(),
    "pl": "nie jest czy tak ale jak przez tego".split(),
}
FILLER = ("sale offer new shop now free delivery best price quality brand "
          "today limited deal summer style home garden sport travel").split()
NON_LATIN = ["你好世界 这是中文 文本 广告", "это очень хорошая реклама", "これは広告です"]
# Shares the run's cost depends on. They are fixed, so every seed draws a
# different corpus of the same shape and runs stay comparable across seeds.
INVALID_SHARE = 0.06   # rows with one planted defect, spread over ERROR_CLASSES
DUP_ID_SHARE = 0.05    # ads reusing an earlier ad_archive_id
GROUP_SCALE = 2.0      # ad-group size is 1 + floor(Exp(mean GROUP_SCALE)), capped at 40
ERROR_CLASSES = [
    "missing:ad_id", "missing:is_active", "missing:start_date_ts",
    "invalid_epoch:start_date_ts", "invalid_epoch:end_date_ts",
    "invalid_enum:display_format", "end_before_start",
]


def _text(rng, n_words):
    if rng.random() < 0.03:
        return rng.choice(NON_LATIN)
    lang = rng.choice(list(VOCAB))
    words = [rng.choice(VOCAB[lang]) if rng.random() < 0.4 else rng.choice(FILLER)
             for _ in range(n_words)]
    return " ".join(words)


def _card(rng, body):
    def url(kind):
        r = rng.random()
        return None if r < 0.3 else "" if r < 0.45 else f"https://{kind}.example/{rng.randrange(10**6)}"
    return {"body": body, "video_hd_url": url("video"), "original_image_url": url("img")}


def _ad(rng, ad_id, group_id, boilerplate):
    start = NOW - rng.randrange(3600, 90 * 86400)
    fmt = rng.choices(["VIDEO", "IMAGE", "DCO", "CAROUSEL"], [35, 35, 15, 15])[0]
    text = rng.choice(boilerplate) if rng.random() < 0.1 else _text(rng, rng.randrange(3, 40))
    snapshot = {"display_format": fmt}
    if fmt in ("DCO", "CAROUSEL"):
        r = rng.random()
        if r >= 0.05:  # else no cards at all: the text falls back to ""
            snapshot["cards"] = [_card(rng, text)] + [
                _card(rng, _text(rng, 5)) for _ in range(rng.randrange(0, 3))]
    else:
        snapshot["body"] = {"text": text}
    end = None if rng.random() < 0.6 else start + rng.randrange(0, 30 * 86400)
    return {
        "ad_archive_id": ad_id,
        "is_active": rng.random() < 0.85,
        "start_date": start,
        "end_date": end,
        "total_active_time": None if rng.random() < 0.3 else rng.randrange(0, 60 * 86400),
        "collation_id": group_id,
        "collation_count": None if rng.random() < 0.3 else rng.randrange(1, 20),
        "snapshot": snapshot,
    }


def _break(rng, ad, cls):
    """Plant exactly one defect of class `cls` (the first failing rule)."""
    if cls == "missing:ad_id":
        del ad["ad_archive_id"]
    elif cls == "missing:is_active":
        ad["is_active"] = None
    elif cls == "missing:start_date_ts":
        del ad["start_date"]
    elif cls == "invalid_epoch:start_date_ts":
        ad["start_date"] = MAX_EPOCH + rng.randrange(1, 10**9)
    elif cls == "invalid_epoch:end_date_ts":
        ad["end_date"] = MAX_EPOCH + rng.randrange(1, 10**9)
    elif cls == "invalid_enum:display_format":
        ad["snapshot"]["display_format"] = rng.choice(["TEXT", None])
    elif cls == "end_before_start":
        ad["end_date"] = ad["start_date"] - rng.randrange(1, 86400)


def validation_error(ad):
    """The engine's validation when-chain (first failing rule)."""
    start, end = ad.get("start_date"), ad.get("end_date")
    fmt = (ad.get("snapshot") or {}).get("display_format")
    if ad.get("ad_archive_id") is None:
        return "missing:ad_id"
    if ad.get("is_active") is None:
        return "missing:is_active"
    if start is None:
        return "missing:start_date_ts"
    if not MIN_EPOCH <= start <= MAX_EPOCH:
        return "invalid_epoch:start_date_ts"
    if end is not None and not MIN_EPOCH <= end <= MAX_EPOCH:
        return "invalid_epoch:end_date_ts"
    if fmt not in ("VIDEO", "IMAGE", "DCO", "CAROUSEL"):
        return "invalid_enum:display_format"
    if start != 0 and end is not None and end != 0 and end < start:
        return "end_before_start"
    return None


def ad_text(ad):
    snap = ad.get("snapshot") or {}
    if snap.get("display_format") in ("DCO", "CAROUSEL"):
        cards = snap.get("cards")
        text = cards[0].get("body") if cards else None
    else:
        text = (snap.get("body") or {}).get("text")
    return "" if text is None else text


def hours_passed(ad):
    secs = ad["total_active_time"]
    secs = float(NOW - ad["start_date"]) if secs is None else float(secs)
    return int(Decimal(repr(secs / 3600)).quantize(Decimal(1), rounding=ROUND_HALF_EVEN))


def expected_outputs(docs):
    """Replay validate -> dedup(ad_id, ad_group_id, ad_text) -> report over
    `docs` (a list of documents in file-name order)."""
    quarantine = {c: 0 for c in ERROR_CLASSES}
    valid = []
    for doc in docs:
        for group in doc:
            for ad in group:
                err = validation_error(ad)
                if err:
                    quarantine[err] += 1
                else:
                    valid.append(ad)
    kept = valid
    for key in (lambda a: a["ad_archive_id"], lambda a: a.get("collation_id"), ad_text):
        seen, nxt = set(), []
        for ad in kept:
            k = key(ad)
            if k not in seen:
                seen.add(k)
                nxt.append(ad)
        kept = nxt
    active = sorted((a for a in kept if a["is_active"]),
                    key=lambda a: (-hours_passed(a), a["ad_archive_id"]))
    return {
        "raw_ads": sum(len(g) for d in docs for g in d),
        "valid": len(valid),
        "curated": len(kept),
        "quarantine": quarantine,
        "report": len(active[:TOP_K]),
        "report_ids": [a["ad_archive_id"] for a in active[:TOP_K]],
    }


def generate(seed, out_dir, n_files, n_ads):
    """Write `n_files` documents holding ~`n_ads` ads under `out_dir/raw`,
    plus `expect.json`; returns the expectations."""
    rng = random.Random(seed)
    raw = os.path.join(out_dir, "raw")
    os.makedirs(raw, exist_ok=True)
    boilerplate = [_text(rng, rng.randrange(3, 12)) for _ in range(50)]
    issued, docs, n, gid = [], [], 0, 0
    per_file = n_ads // n_files
    for _ in range(n_files):
        doc, in_file = [], 0
        while in_file < per_file:
            gid += 1
            group_id = None if rng.random() < 0.01 else f"g{seed}-{gid}"
            size = min(1 + int(rng.expovariate(1 / GROUP_SCALE)), 40)
            group = []
            for _ in range(size):
                if issued and rng.random() < DUP_ID_SHARE:
                    ad_id = rng.choice(issued)
                else:
                    ad_id = str(7 * 10**11 + n)
                    issued.append(ad_id)
                n += 1
                ad = _ad(rng, ad_id, group_id, boilerplate)
                if rng.random() < INVALID_SHARE:
                    _break(rng, ad, rng.choice(ERROR_CLASSES))
                group.append(ad)
            doc.append(group)
            in_file += size
        docs.append(doc)
    in_bytes = 0
    for i, doc in enumerate(docs):
        path = os.path.join(raw, f"ads-{i:04d}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump(doc, f, indent=2, ensure_ascii=False)
        in_bytes += os.path.getsize(path)
    expect = expected_outputs(docs)
    expect.update({
        "files": n_files, "in_bytes": in_bytes,
        "properties": {"invalid_share": INVALID_SHARE, "dup_id_share": DUP_ID_SHARE,
                       "group_scale": GROUP_SCALE},
    })
    with open(os.path.join(out_dir, "expect.json"), "w") as f:
        json.dump(expect, f, indent=1, sort_keys=True)
    return expect
