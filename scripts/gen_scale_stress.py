#!/usr/bin/env python3
"""Dev-only: build the 20x scale-stress fixtures in /tmp/scale20 from the
read-only sf0.1 tables (documents: per-copy token shuffle so copies are
bag-identical but sequence-distinct; embeddings: float32 + small seeded
noise). Used to probe operator scaling (SURVEY.md §8.3):
    python3 scripts/gen_scale_stress.py
then, from `sbt console` with a SparkSession `spark`, run one registered
query over the fixture:
    graft.SparkEntry.queries("<name>")(spark, "/tmp/scale20")
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
COPIES = int(os.environ.get("STRESS_COPIES", "20"))
DST = os.environ.get("STRESS_DST", f"/tmp/scale{COPIES}")


def main():
    os.makedirs(DST, exist_ok=True)

    docs = pq.read_table(f"{SRC}/documents.parquet").to_pylist()
    rows = []
    for k in range(COPIES):
        rnd = random.Random(k)
        for d in docs:
            w = d["text"].split()
            if k > 0:
                rnd.shuffle(w)
            rows.append({"doc_id": d["doc_id"] + k * 10000, "text": " ".join(w),
                         "lang": d["lang"], "source": d["source"],
                         "n_chars": d["n_chars"]})
    pq.write_table(pa.Table.from_pylist(rows), f"{DST}/documents.parquet")

    emb = pq.read_table(f"{SRC}/embeddings.parquet").to_pylist()
    er = []
    rnd = np.random.RandomState(0)
    for k in range(COPIES):
        for r in emb:
            v = np.array(r["embedding"], dtype="float32")
            if k:
                v = (v + rnd.randn(len(v)).astype("float32") * np.float32(0.01))
                v = v.astype("float32")
            er.append({"vec_id": r["vec_id"] + k * 100000,
                       "embedding": v.tolist(), "label": r["label"]})
    # explicit schema: tolist() yields python floats, which pyarrow would
    # otherwise widen to list<double> and break the engine's FLOAT readers
    schema = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])
    pq.write_table(pa.Table.from_pylist(er, schema=schema),
                   f"{DST}/embeddings.parquet")
    ev = pq.read_table(f"{SRC}/events.parquet")
    evl = ev.to_pylist()
    evr = []
    for k in range(COPIES):
        off = k * 10_000_000  # disjoint users/events per copy; same time range
        for r in evl:
            evr.append({"event_id": r["event_id"] + off, "ts": r["ts"],
                        "user_id": r["user_id"] + off,
                        "event_type": r["event_type"], "value": r["value"],
                        "props": r["props"]})
    pq.write_table(pa.Table.from_pylist(evr, schema=ev.schema), f"{DST}/events.parquet")
    print(f"wrote {len(rows)} docs, {len(er)} vectors, {len(evr)} events to {DST}")


if __name__ == "__main__":
    main()
