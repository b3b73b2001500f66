"""Seeded tweet-payload generator for the stream_hashtag workload.

Renders newline-delimited tweet JSON files (the `tweet-replay` wire
format: one payload per line) ahead of time, so releasing a file later is
only an atomic rename. Hashtags are Zipf-skewed, languages are mixed,
texts carry sentiment-lexicon words, and a share of the events arrive out
of order by less than the watermark.

Returns the generator's own tally of English tweets per (window, hashtag),
which the output check compares with the stream's windows.

    python3 perfbench/gen_tweets.py <out_dir> <seed> <n_files> <docs_per_file>
"""
import datetime
import json
import os
import random
import re
import sys
from collections import Counter

WORDS = ("join hash row batch scan stream window spark query data table "
         "value key group order filter merge sort agg the a").split()
# words from graft's sentiment lexicon, so tweets score non-neutral
MOOD = "good great love happy win fast slow bad sad fail error broken".split()
LANGS = ["en"] * 6 + ["es", "fr", "de", "pt"]
N_TAGS = 300
ZIPF_S = 1.1
BASE = datetime.datetime(2024, 3, 1, tzinfo=datetime.timezone.utc)
TAG_RE = re.compile(r"#(\w+)")


def tags_of(tweet):
    """Hashtags as the pipeline reads them: '#' tokens of the lowercased
    text plus the entity tags, lowercased, each once per tweet."""
    text = TAG_RE.findall(tweet["text"].lower())
    ent = [h["text"].lower() for h in tweet["entities"]["hashtags"]]
    return set(text) | set(ent)


def render(out_dir, seed, n_files, docs_per_file, file_event_s=10,
           max_lag_s=20, late_frac=0.1, window_s=60):
    """Write `n_files` files of `docs_per_file` tweets into `out_dir`.
    File f covers event time [f, f+1) * file_event_s; a `late_frac` share
    of tweets is shifted back by up to `max_lag_s`. Returns
    (tally, max_event_epoch_s, n_docs)."""
    os.makedirs(out_dir, exist_ok=True)
    rnd = random.Random(seed)
    weights = [1 / (k ** ZIPF_S) for k in range(1, N_TAGS + 1)]
    tag_names = [f"tag{k}" for k in range(N_TAGS)]
    tally = Counter()
    max_event = 0.0
    for f in range(n_files):
        lines = []
        for _ in range(docs_per_file):
            t = (f + rnd.random()) * file_event_s
            if rnd.random() < late_frac:
                t = max(0.0, t - rnd.random() * max_lag_s)
            ms = int(t * 1000)
            created = BASE + datetime.timedelta(milliseconds=ms)
            tags = rnd.choices(tag_names, weights, k=rnd.randint(0, 3))
            words = rnd.choices(WORDS, k=rnd.randint(4, 16))
            words += rnd.choices(MOOD, k=rnd.randint(0, 3))
            # some tags inline ('#Tag', case varies), some only as entities
            inline = [("#" + g.upper() if rnd.random() < 0.3 else "#" + g)
                      for g in tags if rnd.random() < 0.5]
            words += inline
            rnd.shuffle(words)
            tweet = {
                "text": " ".join(words),
                "lang": rnd.choice(LANGS),
                "created_at": created.strftime("%Y-%m-%dT%H:%M:%S.")
                + f"{ms % 1000:03d}Z",
                "entities": {"hashtags": [{"text": g} for g in tags
                                          if rnd.random() < 0.7]},
            }
            if tweet["lang"] == "en":
                epoch = BASE.timestamp() + ms / 1000
                w = int(epoch // window_s) * window_s
                for g in tags_of(tweet):
                    tally[(w, g)] += 1
            max_event = max(max_event, BASE.timestamp() + ms / 1000)
            lines.append(json.dumps(tweet, separators=(",", ":")))
        with open(os.path.join(out_dir, f"{f:05d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return tally, max_event, n_files * docs_per_file


if __name__ == "__main__":
    d, seed, n, per = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4])
    _, _, docs = render(d, seed, n, per)
    print(f"{docs} tweets in {n} files under {d}")
