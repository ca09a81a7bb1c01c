"""Seeded synthetic GH Archive feed: H hourly JSON-lines files.

Each line is one event in the public GH Archive shape (id, type, actor,
repo, org, payload, public, created_at). The properties the ingestion
planes are sensitive to are explicit parameters:

- ``ORGLESS_SHARE`` of events carry ``org: null`` (excluded from the gold
  organizations dim);
- ``REDELIVERY_SHARE`` of lines re-deliver an earlier event byte for byte
  (same id), from the same or the previous hour, so the gold events dedup
  and the streaming upsert both have work;
- actor, repo and org popularity follow a Zipf law (``ZIPF_S``) over a
  pool of a quarter as many ids as an hour has events, shared by all
  hours, so the distinct dims are much smaller than the event count. The
  exponent and the pool size are assumed, not measured: no real GH Archive
  hour is available to fit them against, so they set the gold dims' sizes
  and DISTINCT/shuffle work only plausibly, and should be refitted once a
  real hour sample is at hand;
- every event has a nested ``payload`` blob (a push with 0-4 commits) that
  silver drops, so bronze bytes are realistic relative to silver.

The same (seed, hours, events per hour) gives the same bytes. Run as a
script to write the benchmark's feed (``HOURS`` x ``EVENTS_PER_HOUR``) for
a seed::

    python3 perfbench/ghgen.py --seed 7 --out feed/
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
from bisect import bisect_left
from datetime import datetime, timedelta

HOURS, EVENTS_PER_HOUR = 2, 10_000  # the benchmark's feed size
ORGLESS_SHARE = 0.60
REDELIVERY_SHARE = 0.02
ZIPF_S = 1.2
START = datetime(2015, 1, 1, 23, 0, 0)  # the feed's hours cross midnight
EVENT_TYPES = (("PushEvent", 50), ("WatchEvent", 15), ("CreateEvent", 10),
               ("IssueCommentEvent", 8), ("PullRequestEvent", 7),
               ("IssuesEvent", 5), ("ForkEvent", 5))
ID_BASE = 2_489_000_000


def _zipf_sampler(rng: random.Random, n: int):
    weights = [1.0 / (k ** ZIPF_S) for k in range(1, n + 1)]
    cum, total = [], 0.0
    for w in weights:
        total += w
        cum.append(total)
    ids = list(range(1, n + 1))
    rng.shuffle(ids)  # popularity rank is not id order

    def draw(k: int) -> list[int]:
        return [ids[min(bisect_left(cum, rng.random() * total), n - 1)]
                for _ in range(k)]
    return draw


def _entity(kind: str, eid: int) -> dict:
    login = f"{kind}{eid}"
    return {"id": eid, "login": login, "gravatar_id": "",
            "url": f"https://api.github.com/{kind}s/{login}",
            "avatar_url": f"https://avatars.githubusercontent.com/u/{eid}?"}


def _payload(rng: random.Random) -> dict:
    n = rng.randint(0, 4)
    commits = [{"sha": f"{rng.getrandbits(160):040x}",
                "author": {"email": f"dev{rng.randint(1, 9999)}@example.com",
                           "name": f"Dev {rng.randint(1, 9999)}"},
                "message": " ".join(rng.choice(("fix", "add", "bump", "docs",
                                                "refactor", "test", "typo"))
                                    for _ in range(rng.randint(2, 12))),
                "distinct": True} for _ in range(n)]
    return {"push_id": rng.getrandbits(32), "size": n, "distinct_size": n,
            "ref": "refs/heads/master",
            "head": f"{rng.getrandbits(160):040x}",
            "before": f"{rng.getrandbits(160):040x}",
            "commits": commits}


def hour_lines(seed: int, hours: int, events_per_hour: int):
    """Yield (hour, [json line, ...]) for each hour of the feed."""
    rng = random.Random(seed)
    pool = max(10, events_per_hour // 4)
    actors = _zipf_sampler(rng, pool)
    repos = _zipf_sampler(rng, pool)
    orgs = _zipf_sampler(rng, max(5, pool // 20))
    types = [t for t, w in EVENT_TYPES for _ in range(w)]
    next_id = ID_BASE
    previous: list[str] = []
    for h in range(hours):
        n_redelivered = int(events_per_hour * REDELIVERY_SHARE)
        n_new = events_per_hour - n_redelivered
        base = START + timedelta(hours=h)
        seconds = sorted(rng.randrange(3600) for _ in range(n_new))
        actor_ids, repo_ids = actors(n_new), repos(n_new)
        lines = []
        for i in range(n_new):
            repo_id = repo_ids[i]
            org = (None if rng.random() < ORGLESS_SHARE
                   else _entity("org", orgs(1)[0]))
            event = {
                "id": str(next_id),
                "type": rng.choice(types),
                "actor": _entity("user", actor_ids[i]),
                "repo": {"id": repo_id, "name": f"owner{repo_id % 997}/repo{repo_id}",
                         "url": f"https://api.github.com/repos/repo{repo_id}"},
                "payload": _payload(rng),
                "public": True,
                "created_at": (base + timedelta(seconds=seconds[i]))
                .strftime("%Y-%m-%dT%H:%M:%SZ"),
                "org": org,
            }
            next_id += 1
            lines.append(json.dumps(event, separators=(",", ":")))
        source = previous + lines
        for _ in range(n_redelivered):
            lines.insert(rng.randrange(len(lines) + 1), rng.choice(source))
        previous = lines
        yield h, lines


def write_feed(out_dir: str, seed: int, hours: int,
               events_per_hour: int) -> list[str]:
    """Write ``hour-NN.json`` files into ``out_dir``; return their paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for h, lines in hour_lines(seed, hours, events_per_hour):
        path = os.path.join(out_dir, f"hour-{h:02d}.json")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths


def cached_feed(cache_root: str, seed: int, hours: int,
                events_per_hour: int) -> list[str]:
    """The feed for (seed, size), generated once into ``cache_root``."""
    final = os.path.join(cache_root, f"gh-s{seed}-h{hours}-n{events_per_hour}")
    names = [f"hour-{h:02d}.json" for h in range(hours)]
    if not os.path.exists(os.path.join(final, "_DONE")):
        tmp = f"{final}.tmp{os.getpid()}"
        write_feed(tmp, seed, hours, events_per_hour)
        open(os.path.join(tmp, "_DONE"), "w").close()
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
    return [os.path.join(final, n) for n in names]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    for path in write_feed(args.out, args.seed, HOURS, EVENTS_PER_HOUR):
        print(path)


if __name__ == "__main__":
    main()
