"""Seeded generator for a raw GDELT GKG export (JSONL) and its tallies.

Each row has the fields the pipeline reads (GKGRECORDID, DATE, URL,
Themes, Organizations, V2Tone). Dates fall inside the two reference
windows (2024-02-12..19 and 2024-05-13..20) unless `outside` > 0, which
moves that share of rows to March 2024. Shares of irregular rows:

  duplicate URL (an earlier row's URL, new record id)   DUP_SHARE
  null URL                                             NULL_SHARE
  empty Themes                                          EMPTY_THEMES_SHARE
  malformed V2Tone (a non-numeric part or <3 fields)    BAD_TONE_SHARE

The tallies are computed here, from the values as generated, by the
reference's rules and not by the program: the row kept for a URL is the
one with the smallest GKGRECORDID, keyword flags are substring matches
on the space-joined lowercase URL tokens, and averages skip nulls.
"""
import json
import random
import re

DUP_SHARE = 0.10
NULL_SHARE = 0.02
EMPTY_THEMES_SHARE = 0.13
BAD_TONE_SHARE = 0.03

KEYWORDS = {
    "openai": ["openai", "gpt", "gpt4", "gpt-4", "gpt4o", "chatgpt", "sora"],
    "google": ["google", "alphabet", "gemini", "io", "i-o"],
    "anthropic": ["anthropic", "claude", "claude3", "claude-3"],
}
HOSTS = ["www.example.com", "news.example.co.uk", "techdaily.net",
         "www.bbc.co.uk", "markets.reuters.com", "blog.example.org",
         "www.lemonde.fr", "www.abc.net.au", "tech.example.de", "wired.com"]
WORDS = ["ai", "model", "launch", "openai", "google", "gemini", "chatgpt",
         "anthropic", "claude", "market", "policy", "chip", "startup",
         "search", "sora", "alphabet", "update", "review", "data", "cloud",
         "production", "radio"]
THEMES = ["TECH", "ECON_STOCKMARKET", "SCIENCE", "WB_AI", "EDUCATION",
          "TAX_FNCACT_CEO", "GENERAL_GOVERNMENT", "MEDIA_SOCIAL"]
ORGS = ["openai", "google", "microsoft", "anthropic", "nvidia", "meta",
        "reuters", "amazon", "apple"]
WINDOWS = {"week_feb": (2024, 2, 12), "week_may": (2024, 5, 13)}


def tokens(url):
    return [t for t in re.split(r"[^a-z0-9]+", url.lower())
            if t and not t.isdigit()]


def flags(url):
    joined = " ".join(tokens(url))
    return {k: int(any(w in joined for w in ws)) for k, ws in KEYWORDS.items()}


def generate(path, seed, rows, outside=0.0):
    rng = random.Random(seed)
    kept = {}  # url -> (record id, week, tone1, tone3)
    urls = []
    with open(path, "w") as f:
        for i in range(rows):
            if rng.random() < outside:
                week, (y, m, d) = "other", (2024, 3, 4)
            else:
                week = rng.choice(sorted(WINDOWS))
                y, m, d = WINDOWS[week]
            day = d + rng.randrange(8)
            date = f"{y:04d}{m:02d}{day:02d}{rng.randrange(24):02d}{rng.randrange(60):02d}00"
            rid = f"{date}-{i}"
            r = rng.random()
            if r < NULL_SHARE:
                url = None
            elif r < NULL_SHARE + DUP_SHARE and urls:
                url = rng.choice(urls)
            else:
                words = "-".join(rng.sample(WORDS, rng.randrange(2, 6)))
                url = f"https://{rng.choice(HOSTS)}/{y}/{m:02d}/{words}-{i}"
                urls.append(url)
            tone = [round(rng.uniform(-10, 10), 6) for _ in range(7)]
            if rng.random() < BAD_TONE_SHARE:
                if rng.random() < 0.5:
                    v2 = ",".join(["x" if j == 0 else str(t) for j, t in enumerate(tone)])
                    t1, t3 = None, tone[2]
                else:
                    v2 = ",".join(str(t) for t in tone[:2])
                    t1, t3 = tone[0], None
            else:
                v2 = ",".join(str(t) for t in tone)
                t1, t3 = tone[0], tone[2]
            themes = "" if rng.random() < EMPTY_THEMES_SHARE else \
                ";".join(rng.sample(THEMES, rng.randrange(1, 4)))
            orgs = ";".join(rng.sample(ORGS, rng.randrange(0, 4)))
            f.write(json.dumps({"GKGRECORDID": rid, "DATE": date, "URL": url,
                                "Themes": themes, "Organizations": orgs,
                                "V2Tone": v2}) + "\n")
            if url is not None and (url not in kept or rid < kept[url][0]):
                kept[url] = (rid, week, t1, t3)

    weeks = {}
    for url, (_, week, t1, t3) in kept.items():
        w = weeks.setdefault(week, {"total": 0, "t1": [], "t3": [],
                                    "google": 0, "openai": 0, "anthropic": 0})
        w["total"] += 1
        if t1 is not None:
            w["t1"].append(t1)
        if t3 is not None:
            w["t3"].append(t3)
        for k, v in flags(url).items():
            w[k] += v
    expect = {"rows": rows, "distinct_urls": len(kept), "weeks": {
        week: {"total": w["total"],
               "avg_tone": sum(w["t1"]) / len(w["t1"]),
               "avg_neg": sum(w["t3"]) / len(w["t3"]),
               "pct_google": 100.0 * w["google"] / w["total"],
               "pct_openai": 100.0 * w["openai"] / w["total"],
               "pct_anthropic": 100.0 * w["anthropic"] / w["total"]}
        for week, w in weeks.items()}}
    return expect
