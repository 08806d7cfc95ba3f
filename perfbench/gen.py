"""CRMLS change-record generator for the stream workloads.

Two modes, both deterministic in ``--seed``:

* ``seed``: writes the seeded state (listings, agents, offices) as
  JSON-lines files under ``<out>/<topic>/`` and a ``plan.json`` with the
  counts the correctness check needs.
* ``live``: an open-loop, single-threaded publisher.  Event due times are
  evenly spaced at ``--rate`` events/s (seeded phase), rendered before the
  first file is published; every ``TICK_S`` the events that have come due are
  written to one file per topic, under a ``_``-prefixed name that Spark's
  file source ignores, and renamed into place, so the stream never reads
  a partial file.  A stall in the stream cannot slow the schedule: the
  generator never waits on the consumer.

Traffic shape (assumed; no production trace exists in the repository):
topic shares of listings 70 %, media 10 %, history 8 %, open houses 8 %,
agents 3 %, offices 1 %; listing keys skewed toward recent ids; random
(incompressible) payloads of about 512 B for listings and 256 B for the
other entities.
"""

import argparse
import base64
import json
import os
import random
import time

TOPICS = ("listings", "agents", "openhouses", "offices", "media", "history")

SEED_LISTINGS = 5_000
SEED_AGENTS = 500
SEED_OFFICES = 50
SEED_FILE_ROWS = 10_000

LISTING_PAYLOAD = 512
DIM_PAYLOAD = 256

# Shares per workload; stream_dims keeps the mixed stream's relative
# weights of the three entities that fan out through the reverse index.
SHARES = {
    "stream_mixed": {"listings": 70, "media": 10, "history": 8,
                     "openhouses": 8, "agents": 3, "offices": 1},
    "stream_dims": {"openhouses": 8, "agents": 3, "offices": 1},
}
NEW_LISTING_FRAC = 0.1
TICK_S = 0.2


class Model:
    """Key space and record rendering shared by both modes."""

    def __init__(self, rng):
        self.rng = rng
        self.n_listings = 0
        self.ts = 0
        self.n_media = 0
        self.n_history = 0

    def payload(self, size):
        # base64 of random bytes: JSON-safe and near-incompressible
        return base64.b64encode(self.rng.randbytes(size * 3 // 4)).decode()

    def envelope(self, pk, data):
        self.ts += 1
        ts = str(self.ts)
        return json.dumps({
            "data": json.dumps(data, separators=(",", ":")),
            "uc_pk": pk, "uc_update_ts": "u" + ts, "uc_version": "1",
            "uc_created_ts": ts, "uc_row_type": "r", "uc_type": "t",
            "uc_valid_day": "1", "uc_valid_ts": ts}, separators=(",", ":"))

    def recent_listing(self):
        # recency skew: offsets from the newest id follow u**3
        return self.n_listings - 1 - int(self.n_listings * self.rng.random() ** 3)

    def listing(self, i):
        r = self.rng
        data = {"ListingKeyNumeric": f"LK{i}"}
        for role in ("ListAgent", "BuyerAgent", "CoListAgent", "CoBuyerAgent"):
            data[role + "KeyNumeric"] = f"A{r.randrange(SEED_AGENTS)}"
        for role in ("ListOffice", "BuyerOffice", "CoListOffice", "CoBuyerOffice"):
            data[role + "KeyNumeric"] = f"O{r.randrange(SEED_OFFICES)}"
        data["p"] = self.payload(LISTING_PAYLOAD)
        return self.envelope(f"L{i}", data)

    def event(self, topic):
        r = self.rng
        if topic == "listings":
            if r.random() < NEW_LISTING_FRAC:
                self.n_listings += 1
                return self.listing(self.n_listings - 1)
            return self.listing(self.recent_listing())
        if topic == "agents":
            return self.envelope(f"A{r.randrange(SEED_AGENTS)}",
                                 {"p": self.payload(DIM_PAYLOAD)})
        if topic == "offices":
            return self.envelope(f"O{r.randrange(SEED_OFFICES)}",
                                 {"p": self.payload(DIM_PAYLOAD)})
        if topic == "openhouses":
            i = self.recent_listing()
            return self.envelope(f"OH{i}", {"ListingKeyNumeric": f"LK{i}",
                                            "p": self.payload(DIM_PAYLOAD)})
        # media / history reference the listing pk itself
        i = self.recent_listing()
        if topic == "media":
            self.n_media += 1
            pk = f"M{self.n_media}"
        else:
            self.n_history += 1
            pk = f"H{self.n_history}"
        return self.envelope(pk, {"ResourceRecordKeyNumeric": f"L{i}",
                                  "p": self.payload(DIM_PAYLOAD)})


def publish(topic_dir, name, lines):
    """Write ``lines`` to ``topic_dir/name`` atomically (hidden name,
    then rename)."""
    tmp = os.path.join(topic_dir, "_" + name)
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(topic_dir, name))


def seed_rng(seed, stream):
    return random.Random(f"{seed}:{stream}")


def write_seed(out, seed):
    m = Model(seed_rng(seed, "seed"))
    for t in TOPICS:
        os.makedirs(os.path.join(out, t), exist_ok=True)
    rows = {
        "agents": [m.envelope(f"A{i}", {"p": m.payload(DIM_PAYLOAD)})
                   for i in range(SEED_AGENTS)],
        "offices": [m.envelope(f"O{i}", {"p": m.payload(DIM_PAYLOAD)})
                    for i in range(SEED_OFFICES)],
        "listings": [m.listing(i) for i in range(SEED_LISTINGS)],
    }
    m.n_listings = SEED_LISTINGS
    for topic, lines in rows.items():
        for k in range(0, len(lines), SEED_FILE_ROWS):
            publish(os.path.join(out, topic), f"seed-{k // SEED_FILE_ROWS:04d}.json",
                    lines[k:k + SEED_FILE_ROWS])
    return {"listings": m.n_listings, "ts": m.ts}


def plan_live(seed, workload, rate, seconds, seed_plan):
    """The whole live schedule, rendered before publishing starts:
    a list of (due offset s, topic, line) in due order."""
    rng = seed_rng(seed, "live:" + workload)
    m = Model(rng)
    m.n_listings = seed_plan["listings"]
    m.ts = seed_plan["ts"]
    shares = SHARES[workload]
    topics, weights = list(shares), list(shares.values())
    events = []
    t = rng.random() / rate  # seeded phase, then a fixed rate
    while t < seconds:
        topic = rng.choices(topics, weights)[0]
        events.append((t, topic, m.event(topic)))
        t += 1.0 / rate
    return events, m.n_listings


def run_live(out, events, warmup, seconds):
    """Publish ``events`` on their schedule; return the publication log.
    The measured window is the ``seconds`` after the first ``warmup``."""
    seconds += warmup
    t0 = time.time()
    log, i, tick = [], 0, 0
    while i < len(events) or tick * TICK_S < seconds:
        tick += 1
        due_until = tick * TICK_S
        sleep = t0 + due_until - time.time()
        if sleep > 0:
            time.sleep(sleep)
        batch = {}
        while i < len(events) and events[i][0] < due_until:
            due, topic, line = events[i]
            batch.setdefault(topic, []).append((due, line))
            i += 1
        for topic, items in batch.items():
            name = f"live-{tick:06d}.json"
            publish(os.path.join(out, topic), name, [line for _, line in items])
            log.append({"topic": topic, "file": name,
                        "due": [t0 + due for due, _ in items],
                        "published": time.time(),
                        "tick_end": t0 + due_until})
    return {"start": t0 + warmup, "end": t0 + seconds, "files": log}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("seed", "live"))
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload")
    ap.add_argument("--rate", type=float)
    ap.add_argument("--warmup", type=float, default=0.0)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--log")
    a = ap.parse_args()
    if a.mode == "seed":
        plan = write_seed(a.out, a.seed)
        with open(os.path.join(a.out, "plan.json"), "w") as f:
            json.dump(plan, f)
        return
    with open(os.path.join(a.out, "..", "seed", "plan.json")) as f:
        seed_plan = json.load(f)
    events, planted = plan_live(a.seed, a.workload, a.rate, a.warmup + a.seconds,
                                seed_plan)
    result = run_live(a.out, events, a.warmup, a.seconds)
    result["planted_listings"] = planted
    result["events"] = len(events)
    tmp = a.log + ".tmp"
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.rename(tmp, a.log)


if __name__ == "__main__":
    main()
