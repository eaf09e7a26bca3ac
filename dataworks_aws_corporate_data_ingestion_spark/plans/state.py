"""Job-state store: per (correlation_id, data_product, date) run status.

Mirrors the reference's DynamoDB tracking (steps/dynamodb.py:7-62 --
Status in {IN_PROGRESS, COMPLETED, FAILED}, optional export-prefix
attribute; the merge locates the newest COMPLETED entry that carries an
export prefix, steps/ingesters.py:343-370).  The storage backend is an
interface; the local implementation is a JSONL append log (atomic enough
for a single driver, trivially portable to DynamoDB/JDBC)."""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass
from typing import Optional, Protocol

IN_PROGRESS = "IN_PROGRESS"
COMPLETED = "COMPLETED"
FAILED = "FAILED"


def data_product(collection: str) -> str:
    """The state-store product key of a collection ("db:collection")."""
    return f"CDI-{collection}"


@dataclass(frozen=True)
class JobStatus:
    correlation_id: str
    data_product: str  # e.g. "CDI-calculator:calculationParts"
    date: str  # YYYY-MM-DD
    status: str
    run_id: int = 1
    cluster_id: str = ""
    export_prefix: Optional[str] = None
    updated_at: float = 0.0


class StateStore(Protocol):
    def put(self, status: JobStatus) -> None: ...

    def latest_completed_export(self, data_product: str) -> Optional[JobStatus]: ...


class LocalStateStore:
    """Append-only JSONL log; the latest record per key wins (the same
    last-writer-wins view a DynamoDB put gives)."""

    def __init__(self, path: str):
        self._path = path

    def put(self, status: JobStatus) -> None:
        rec = asdict(status)
        rec["updated_at"] = status.updated_at or time.time()
        os.makedirs(os.path.dirname(self._path) or ".", exist_ok=True)
        with open(self._path, "a") as fd:
            fd.write(json.dumps(rec) + "\n")

    def _entries(self) -> list[JobStatus]:
        if not os.path.exists(self._path):
            return []
        current: dict[tuple, JobStatus] = {}
        with open(self._path) as fd:
            for line in fd:
                if line.strip():
                    rec = JobStatus(**json.loads(line))
                    current[(rec.correlation_id, rec.data_product, rec.date)] = rec
        return list(current.values())

    def latest_completed_export(self, data_product: str) -> Optional[JobStatus]:
        """Newest (by date) COMPLETED entry carrying an export prefix --
        the lookup the snapshot merge starts from
        (reference steps/ingesters.py:345-366)."""
        candidates = [
            e
            for e in self._entries()
            if e.data_product == data_product
            and e.status == COMPLETED
            and e.export_prefix
        ]
        if not candidates:
            return None
        # updated_at tie-break: a stream batch and a weekly merge can both
        # export on the same DATE (streaming/merge.py handoff); the newer
        # put is the newer snapshot.  The reference never hits this (one
        # weekly export per date) so its scan orders by Date alone.
        return max(candidates, key=lambda e: (e.date, e.updated_at))

    def entries(self, data_product: str | None = None) -> list[JobStatus]:
        out = self._entries()
        if data_product:
            out = [e for e in out if e.data_product == data_product]
        return out


class DynamoDBStateStore:
    """StateStore backed by the reference's DynamoDB tracking table
    (reference steps/dynamodb.py:7-62, scan semantics
    steps/ingesters.py:343-370).

    Speaks the low-level boto3 *client* wire shapes (typed attribute
    values), so tests inject a stub client and no AWS dependency is
    imported here; `DynamoDBStateStore.from_boto3()` builds a real
    client lazily.  Parity notes vs the reference:

    - same table name, composite key (Correlation_Id, DataProduct),
      attribute names, 2-year TimeToExist TTL, and create-then-update
      flow (put_item on first write, update_item after);
    - `latest_completed_export` runs the reference's filtered scan
      (DataProduct = X AND attribute_exists(S3_Prefix_CDI_Export) AND
      Status = COMPLETED) and picks the newest parseable Date; unlike
      the reference's loop -- whose stale-buffer handling of an
      unparseable Date can select a broken item or crash -- unparseable
      dates are skipped, and the scan paginates on LastEvaluatedKey
      (the reference reads only the first page).
    """

    TABLE = "data_pipeline_metadata"
    TTL_SECONDS = 2 * 52 * 7 * 24 * 3600  # reference: now + 104 weeks

    def __init__(self, client, now=time.time):
        self._client = client
        self._now = now

    @classmethod
    def from_boto3(cls, **client_kwargs) -> "DynamoDBStateStore":
        import boto3  # deferred: only needed for a real AWS session

        return cls(boto3.client("dynamodb", **client_kwargs))

    def _key(self, correlation_id: str, data_product: str) -> dict:
        return {
            "Correlation_Id": {"S": correlation_id},
            "DataProduct": {"S": data_product},
        }

    def put(self, status: JobStatus) -> None:
        key = self._key(status.correlation_id, status.data_product)
        existing = self._client.get_item(TableName=self.TABLE, Key=key).get(
            "Item"
        )
        extra = (
            {"S3_Prefix_CDI_Export": status.export_prefix}
            if status.export_prefix
            else {}
        )
        if not existing:
            item = {
                **key,
                "Run_Id": {"S": str(status.run_id)},
                "Status": {"S": status.status},
                "Cluster_Id": {"S": status.cluster_id},
                "Date": {"S": status.date},
                "TimeToExist": {"N": str(self._now() + self.TTL_SECONDS)},
            }
            item.update({k: {"S": v} for k, v in extra.items()})
            self._client.put_item(TableName=self.TABLE, Item=item)
        else:
            updates = {"Status": {"Value": {"S": status.status}}}
            updates.update(
                {k: {"Value": {"S": v}} for k, v in extra.items()}
            )
            updates["Date"] = {"Value": {"S": status.date}}
            self._client.update_item(
                TableName=self.TABLE, Key=key, AttributeUpdates=updates
            )

    def _scan_completed(self, data_product: str) -> list[dict]:
        items, start_key = [], None
        while True:
            kwargs = dict(
                TableName=self.TABLE,
                FilterExpression=(
                    "DataProduct = :dp"
                    " AND attribute_exists(S3_Prefix_CDI_Export)"
                    " AND #st = :completed"
                ),
                ExpressionAttributeNames={"#st": "Status"},
                ExpressionAttributeValues={
                    ":dp": {"S": data_product},
                    ":completed": {"S": COMPLETED},
                },
            )
            if start_key:
                kwargs["ExclusiveStartKey"] = start_key
            page = self._client.scan(**kwargs)
            items.extend(page.get("Items", []))
            start_key = page.get("LastEvaluatedKey")
            if not start_key:
                return items

    def latest_completed_export(self, data_product: str) -> Optional[JobStatus]:
        import datetime as dt

        best, best_date = None, None
        for item in self._scan_completed(data_product):
            raw = item.get("Date", {}).get("S", "")
            try:
                parsed = dt.datetime.strptime(raw, "%Y-%m-%d")
            except ValueError:
                continue  # sane divergence from the reference, see class doc
            if best_date is None or parsed > best_date:
                best, best_date = item, parsed
        if best is None:
            return None
        return JobStatus(
            correlation_id=best["Correlation_Id"]["S"],
            data_product=best["DataProduct"]["S"],
            date=best["Date"]["S"],
            status=best["Status"]["S"],
            run_id=int(best.get("Run_Id", {}).get("S", "1") or 1),
            cluster_id=best.get("Cluster_Id", {}).get("S", ""),
            export_prefix=best.get("S3_Prefix_CDI_Export", {}).get("S"),
        )
