"""Seeded inputs for the reference_pipeline workload, with the truths the
checker compares the pipeline's results against.

* ``gkg(path, seed, rows)`` writes raw GDELT GKG rows as JSON lines
  (GKGRECORDID, DATE, URL, Themes, Organizations, V2Tone).
* ``html(dir, seed, pages)`` writes one HTML article per file.

Both return a dict of truths derived in Python from the same draws, by
re-stating the engine's documented rules (week windows, URL tokens,
substring keyword flags, first-record-wins dedup, the period rules of
the HTML classifier).
"""
import datetime as dt
import json
import os
import random
import re

FEB = (dt.date(2024, 2, 12), dt.date(2024, 2, 19))
MAY = (dt.date(2024, 5, 13), dt.date(2024, 5, 20))
OTHER_DAYS = [dt.date(2024, 3, 4), dt.date(2024, 4, 2), dt.date(2024, 6, 11)]

OPENAI = ["openai", "gpt", "gpt4", "gpt-4", "gpt4o", "chatgpt", "sora"]
GOOGLE = ["google", "alphabet", "gemini", "io", "i-o"]
ANTHROPIC = ["anthropic", "claude", "claude3", "claude-3"]

SUFFIXES = [".com", ".co.uk", ".org", ".com.au", ".net", ".de"]
THEMES = ["TAX_FNCACT", "ECON_STOCKMARKET", "SCIENCE", "GENERAL_GOVERNMENT",
          "WB_133_INFORMATION", "MEDIA_SOCIAL", "EDUCATION", "SOC_INNOVATION"]
ORGS = ["microsoft", "nvidia", "apple", "meta", "amazon", "samsung", "ibm"]

# substrings the HTML period rules react to; filler words must avoid them
_REACTIVE = ["gemini", "google", "bard", "gpt", "4o", "omni", "openai", "veo",
             "sora", "scarlett", "sky", "historical", "accuracy", "feb", "may",
             "february", "2024", "ai"]
_SYLLABLES = ["ta", "lo", "ven", "mar", "kel", "dun", "ris", "pel", "tor",
              "quin", "bel", "sum", "dra", "nek", "hul", "zor"]


def _vocab(rng, n):
    words = set()
    while len(words) < n:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3)))
        if len(w) >= 5 and not any(r in w for r in _REACTIVE):
            words.add(w)
    return sorted(words)


def _url_tokens(url):
    return [t for t in re.split(r"[^a-z0-9]+", url.lower())
            if t and not t.isdigit()]


def _flag(tokens, keywords):
    joined = " ".join(tokens)
    return int(any(k in joined for k in keywords))


def _label(day):
    if FEB[0] <= day <= FEB[1]:
        return "week_feb"
    if MAY[0] <= day <= MAY[1]:
        return "week_may"
    return "other"


def gkg(path, seed, rows, other_share=0.1):
    """Raw GKG JSONL: the Feb and May weeks in equal shares plus
    ``other_share`` of other days; 5 % duplicate URLs, 2 % null URLs,
    ~13 % empty Themes, ~19 % empty Organizations, V2Tone with 7, fewer
    or more fields, keyword tokens at fixed rates."""
    rng = random.Random(seed * 7919 + 1)
    words = _vocab(rng, 400)
    out, kept = [], {}
    urls = []
    for i in range(rows):
        r = rng.random()
        if r < (1 - other_share) / 2:
            day = FEB[0] + dt.timedelta(days=rng.randint(0, 7))
        elif r < 1 - other_share:
            day = MAY[0] + dt.timedelta(days=rng.randint(0, 7))
        else:
            day = rng.choice(OTHER_DAYS)
        stamp = day.strftime("%Y%m%d") + "%02d%02d00" % (rng.randint(0, 23), rng.randint(0, 59))
        rid = "%s-%07d" % (stamp, i)
        u = rng.random()
        if u < 0.02:
            url = None
        elif u < 0.07 and urls:
            url = rng.choice(urls)
        else:
            path_words = rng.sample(words, rng.randint(2, 5))
            k = rng.random()
            if k < 0.20:
                path_words.append(rng.choice(["openai", "chatgpt", "gpt4o", "sora"]))
            elif k < 0.40:
                path_words.append(rng.choice(["google", "gemini", "alphabet"]))
            elif k < 0.50:
                path_words.append(rng.choice(["anthropic", "claude"]))
            host = "%s.%s%s" % (rng.choice(["www", "news", "tech"]), rng.choice(words),
                                rng.choice(SUFFIXES))
            url = "https://%s/%d/%s-%d" % (host, day.year, "-".join(path_words), i)
            urls.append(url)
        t = rng.random()
        themes = "" if t < 0.10 else (None if t < 0.13 else
                                      ";".join(rng.sample(THEMES, rng.randint(1, 4))))
        o = rng.random()
        orgs = "" if o < 0.15 else (None if o < 0.19 else
                                    ";".join(rng.sample(ORGS, rng.randint(1, 3))))
        nf = rng.choices([7, 5, 9], weights=[8, 1, 1])[0]
        tone = ",".join("%.4f" % rng.uniform(-10, 10) for _ in range(nf))
        rec = {"GKGRECORDID": rid, "DATE": stamp, "URL": url, "Themes": themes,
               "Organizations": orgs, "V2Tone": tone}
        out.append(json.dumps(rec))
        if url is not None and (url not in kept or rid < kept[url][0]):
            kept[url] = (rid, day)
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    weeks = {}
    flags = {"k_openai": 0, "k_google": 0, "k_anthropic": 0}
    for url, (_, day) in kept.items():
        lab = _label(day)
        weeks[lab] = weeks.get(lab, 0) + 1
        toks = _url_tokens(url)
        flags["k_openai"] += _flag(toks, OPENAI)
        flags["k_google"] += _flag(toks, GOOGLE)
        flags["k_anthropic"] += _flag(toks, ANTHROPIC)
    return {"records": rows, "distinct_urls": len(kept), "weeks": weeks, **flags}


def html(dir_, seed, pages):
    """HTML articles: dated Feb pages about Gemini, dated May pages about
    OpenAI, undated pages that name "may 2024" in their text, and pages
    no period rule accepts (March dates, undated, or off-topic)."""
    rng = random.Random(seed * 7919 + 2)
    words = _vocab(rng, 600)
    common = [(rng.choice(words), rng.choice(words)) for _ in range(40)]
    os.makedirs(dir_, exist_ok=True)
    truth = {"Feb_Gemini_Era": 0, "May_AI_Wars": 0}
    for i in range(pages):
        kind = rng.choices(["feb", "may", "may_undated", "march", "undated", "feb_offtopic"],
                           weights=[35, 35, 10, 8, 6, 6])[0]
        head = "<title>%s</title>" % " ".join(rng.sample(words, 3))
        topic = ""
        if kind in ("feb", "feb_offtopic"):
            head += '<script type="application/ld+json">{"datePublished": "2024-02-%02dT09:00:00Z"}</script>' % rng.randint(1, 28)
            topic = "gemini" if kind == "feb" else ""
        elif kind == "may":
            head += "<script>var pageMeta = {published_time: '2024-05-%02d'};</script>" % rng.randint(1, 28)
            topic = rng.choice(["openai", "sora"])
        elif kind == "march":
            head += '<script type="application/ld+json">{"date": "2024-03-%02d"}</script>' % rng.randint(1, 28)
            topic = "openai"
        elif kind == "may_undated":
            topic = "may 2024 openai"
        paras = []
        for _ in range(rng.randint(4, 8)):
            body = []
            for _ in range(rng.randint(3, 6)):
                a, b = rng.choice(common)
                body += [a, b] + rng.sample(words, rng.randint(2, 5))
            paras.append("<p>%s</p>" % " ".join(body))
        if topic:
            paras.insert(rng.randint(0, len(paras)), "<p>Notes on %s and %s.</p>" % (topic, rng.choice(words)))
        junk = "<style>.x{color:red}</style><script>var %s = function(){return %s;}</script>" % (
            rng.choice(words), rng.choice(words))
        doc = "<html><head>%s</head><body>%s<div class=\"nav\">%s</div>%s</body></html>" % (
            head, junk, " ".join(rng.sample(words, 4)), "\n".join(paras))
        with open(os.path.join(dir_, "page-%05d.html" % i), "w") as f:
            f.write(doc)
        if kind == "feb":
            truth["Feb_Gemini_Era"] += 1
        elif kind in ("may", "may_undated"):
            truth["May_AI_Wars"] += 1
    return {"records": pages, "pages": truth}
