"""Output checks on what the sink delivered. Pure Python, so the
harness's tests pin them without a Spark session.

The chunk contract is the reference queue's (``sink/chunker.py``): item
sizes are the UTF-8 byte lengths of the item JSON, summed without brackets
or commas; a chunk is flushed *before* the item that would bring it to the
threshold (``>=`` trigger), and an item at or over the threshold sits
alone in its chunk.
"""

from __future__ import annotations

import json


# The envelope renders keys sorted, so every item on the wire opens with this.
ITEM_START = b'{"event_id":'


def split_items(data: bytes) -> list[tuple[dict, int]]:
    """A record's JSON-array body → [(item, item byte size)], with each
    size taken from the item's exact bytes on the wire.

    Every item opens with ``ITEM_START``; string values escape their
    quotes, so that prefix cannot occur inside an item. The split is checked against the body's
    length, so a body of any other shape fails loudly.
    """
    items = json.loads(data)
    if not isinstance(items, list):
        raise ValueError("record body is not a JSON array")
    parts = data[1:-1].split(b"," + ITEM_START)
    sizes = [len(parts[0])] + [len(ITEM_START) + len(p) for p in parts[1:]]
    if len(sizes) != len(items) or sum(sizes) + len(sizes) + 1 != len(data):
        raise ValueError("record body does not split into envelope items")
    return list(zip(items, sizes))


def chunk_violations(chunks: list[list[int]], max_size: int) -> list[str]:
    """Contract violations in one partition's chunks (item sizes, in the
    order the sink shipped them)."""
    bad = []
    for k, sizes in enumerate(chunks):
        if not sizes:
            bad.append(f"chunk {k} is empty")
        elif len(sizes) > 1 and sum(sizes) >= max_size:
            bad.append(f"chunk {k} holds {sum(sizes)} >= {max_size} bytes in {len(sizes)} items")
        if k + 1 < len(chunks) and chunks[k + 1]:
            if sum(sizes) + chunks[k + 1][0] < max_size:
                bad.append(f"chunk {k} flushed at {sum(sizes)} bytes, next item {chunks[k + 1][0]} fit")
    return bad


def verify_delivery(records, max_size: int, valid_ids: set[int], origin: str) -> dict:
    """Check records captured by ``VerifyingClient``:
    (partition, sequence, body) triples from one write.

    Returns the counts the run reports and a list of problems: every valid
    event delivered exactly once, no invalid event delivered, every item
    stamped, and the chunk contract holding within each partition.
    """
    problems: list[str] = []
    by_part: dict[int, list[tuple[int, bytes]]] = {}
    for part, seq, body in records:
        by_part.setdefault(part, []).append((seq, body))
    seen: dict[int, int] = {}
    n_items = n_over = n_bytes = 0
    for part, recs in sorted(by_part.items()):
        recs.sort()
        if [s for s, _ in recs] != list(range(len(recs))):
            problems.append(f"partition {part}: record sequence has gaps or repeats")
        chunks = []
        for _, body in recs:
            n_bytes += len(body)
            items = split_items(body)
            chunks.append([size for _, size in items])
            for item, size in items:
                n_items += 1
                n_over += size >= max_size
                eid = item.get("event_id")
                seen[eid] = seen.get(eid, 0) + 1
                if item.get("event_type") is None:
                    problems.append(f"event {eid} delivered without event_type")
                if not isinstance(item.get("server_timestamp"), str):
                    problems.append(f"event {eid} has no server_timestamp")
                if origin and item.get("origin") != origin:
                    problems.append(f"event {eid} has origin {item.get('origin')!r}")
        problems.extend(f"partition {part}: {v}" for v in chunk_violations(chunks, max_size))
    dupes = sum(1 for c in seen.values() if c > 1)
    missing = len(valid_ids - seen.keys())
    extra = len(seen.keys() - valid_ids)
    if dupes or missing or extra:
        problems.append(f"delivery: {missing} missing, {dupes} duplicated, {extra} unexpected")
    n_records = len(records)
    return {
        "records": n_records,
        "items": n_items,
        "bytes": n_bytes,
        "oversize_share": n_over / max(n_items, 1),
        "items_per_record": n_items / max(n_records, 1),
        "fill_ratio": n_bytes / max(n_records, 1) / max_size,
        "problems": problems[:20],
        "n_problems": len(problems),
    }
