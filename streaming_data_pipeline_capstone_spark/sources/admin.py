"""Kafka topic administration (SURVEY §2 S9).

The reference wires up a ``KafkaAdminClient`` + producer/consumer
connectivity probe at module import (``kafka_admin.py:1-10`` — create
clients against ``127.0.0.1:9092``, call ``bootstrap_connected``). That is
an ops concern, not an engine concern, but it is part of the reference's
surface, so the engine ships the same capability as explicit functions
instead of import-time side effects.

``kafka-python`` is not installed in this container (and no broker
exists), so the import is guarded: every function takes an optional
pre-built client, which is also what makes the module unit-testable with
a mock. On a real deployment, ``pip install kafka-python`` and pass
nothing — the client is built from ``bootstrap_servers``.
"""

from __future__ import annotations

from typing import Any

try:  # pragma: no cover - exercised only where kafka-python is installed
    from kafka import KafkaAdminClient
    from kafka.admin import NewTopic

    HAVE_KAFKA = True
except ImportError:  # this container: no kafka-python
    KafkaAdminClient = None  # type: ignore[assignment]
    NewTopic = None  # type: ignore[assignment]
    HAVE_KAFKA = False

DEFAULT_BOOTSTRAP = "127.0.0.1:9092"


def _client(bootstrap_servers: str, client: Any = None) -> Any:
    if client is not None:
        return client
    if not HAVE_KAFKA:
        raise ImportError(
            "kafka-python is not installed in this environment; pass a "
            "pre-built admin client or install kafka-python"
        )
    return KafkaAdminClient(bootstrap_servers=bootstrap_servers)


def create_topic(
    name: str,
    num_partitions: int = 1,
    bootstrap_servers: str = DEFAULT_BOOTSTRAP,
    client: Any = None,
) -> None:
    """Create a topic with replication factor 1 (idempotent: an
    already-exists error is swallowed).

    Partition count is the Kafka-side parallelism ceiling for the Spark
    reader — at scale, size it to the executor count you want the stream
    to fan out to (one Spark input partition per Kafka partition).
    """
    admin = _client(bootstrap_servers, client)
    topic = (
        NewTopic(name=name, num_partitions=num_partitions, replication_factor=1)
        if NewTopic is not None
        else {"name": name, "num_partitions": num_partitions, "replication_factor": 1}
    )
    try:
        admin.create_topics(new_topics=[topic], validate_only=False)
    except Exception as exc:  # TopicAlreadyExistsError, without the import
        if type(exc).__name__ != "TopicAlreadyExistsError":
            raise


def delete_topic(
    name: str, bootstrap_servers: str = DEFAULT_BOOTSTRAP, client: Any = None
) -> None:
    _client(bootstrap_servers, client).delete_topics([name])


def list_topics(bootstrap_servers: str = DEFAULT_BOOTSTRAP, client: Any = None) -> list[str]:
    return sorted(_client(bootstrap_servers, client).list_topics())


def topic_exists(
    name: str, bootstrap_servers: str = DEFAULT_BOOTSTRAP, client: Any = None
) -> bool:
    return name in list_topics(bootstrap_servers, client=client)


def bootstrap_connected(
    bootstrap_servers: str = DEFAULT_BOOTSTRAP, client: Any = None
) -> bool:
    """The reference's connectivity probe (kafka_admin.py:9-10), as a
    boolean instead of an import-time side effect."""
    admin = _client(bootstrap_servers, client)
    try:
        admin.list_topics()
        return True
    except Exception:
        return False
