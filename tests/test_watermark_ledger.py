"""Watermark ledger reads and commits cost the same number of py4j round
trips however long the ledger's history is: ``WatermarkStore._entries``
brings the whole listing across in one string."""

import json

from gobblin_spark.state import WatermarkStore


def _seed_ledger(root, dataset: str, n: int) -> None:
    d = root / dataset
    d.mkdir(parents=True)
    for seq in range(1, n + 1):
        (d / f"wm-{seq:010d}.json").write_text(json.dumps(
            {"kind": "long", "value": seq, "dataset": dataset, "seq": seq,
             "run_id": "seed"}))
    (d / "wm-backup.json").write_text("{}")  # foreign name: skipped


def _commands(spark, monkeypatch, fn):
    """(fn(), number of py4j commands it sent). The proxy-release
    command py4j sends when Python garbage-collects a JVM reference
    depends on GC timing, not on *fn*, so it is not counted."""
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return real(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    try:
        out = fn()
    finally:
        monkeypatch.undo()
    return out, len(sent)


def test_get_and_commit_round_trips_do_not_grow_with_history(
        spark, tmp_path, monkeypatch):
    root = tmp_path / "ledgers"
    for name, n in (("warm", 3), ("short", 10), ("long", 1_000)):
        _seed_ledger(root, name, n)
    store = WatermarkStore(spark, str(root))
    store.get("warm")  # first py4j lookups of each JVM class
    store.commit("warm", 4, monotonic=True)

    got_short, n_get_short = _commands(
        spark, monkeypatch, lambda: store.get("short"))
    got_long, n_get_long = _commands(
        spark, monkeypatch, lambda: store.get("long"))
    assert (got_short, got_long) == (10, 1_000)
    assert n_get_short == n_get_long

    seq_short, n_commit_short = _commands(
        spark, monkeypatch, lambda: store.commit("short", 11, monotonic=True))
    seq_long, n_commit_long = _commands(
        spark, monkeypatch, lambda: store.commit("long", 1_001, monotonic=True))
    assert (seq_short, seq_long) == (11, 1_001)
    assert n_commit_short == n_commit_long
    assert store.get("long") == 1_001 and len(store.history("long")) == 1_001
