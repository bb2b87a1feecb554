#!/usr/bin/env python3
"""Seeded change-event feed generator for the connector workload.

  feedgen.py --seed S --salt NAME --out DIR --files F --per-file E

Writes F JSON-lines files of E events each in the connector's feed schema
(event_id, ts_us, user_id, event_type, value, props), with event ids
0 .. F*E-1 in file order. Each file is written under a hidden temp name and
renamed into place, so a stream never lists a half-written file, and gets
a modification time one second after the previous file's, so a file source
takes the files in event order. The seed
and salt (the collection name) set the key, type and value draws; keys are
skewed (a few hot documents), so most events of a collection with
pre/post images have a before-image.
"""
import argparse
import os
import random
import time

TYPES = ["click", "error", "purchase", "signup", "view"]
KEYS = 1000
BASE_TS_US = 1_700_000_000_000_000


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--salt", default="")
    p.add_argument("--out", required=True)
    p.add_argument("--files", type=int, default=1)
    p.add_argument("--per-file", type=int, required=True)
    a = p.parse_args()
    os.makedirs(a.out, exist_ok=True)
    rng = random.Random("%d:%s" % (a.seed, a.salt))
    now = time.time()
    for k in range(a.files):
        lines = []
        for i in range(k * a.per_file, (k + 1) * a.per_file):
            lines.append('{"event_id":%d,"ts_us":%d,"user_id":%d,"event_type":"%s","value":%r,'
                         '"props":"{\\"k\\": %d}"}' % (
                             i, BASE_TS_US + i * 1000, int(KEYS * rng.random() ** 2),
                             TYPES[rng.randrange(len(TYPES))], round(rng.expovariate(1 / 50.0), 2),
                             rng.randrange(100)))
        name = "part-%05d.json" % k
        tmp = os.path.join(a.out, "." + name + ".tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(tmp, (now - a.files + k, now - a.files + k))
        os.rename(tmp, os.path.join(a.out, name))


if __name__ == "__main__":
    main()
