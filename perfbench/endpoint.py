"""Loopback Kinesis PutRecords endpoint.

botocore reaches it through ``AWS_ENDPOINT_URL_KINESIS``. It speaks just
enough HTTP/1.1 (keep-alive, Content-Length bodies) and the Kinesis JSON
1.1 protocol to acknowledge ``PutRecords``; every other operation gets a
400. It runs on the caller's asyncio loop, so it adds no thread.

Per record it keeps the receipt time, the partition key, the wire bytes,
whether the payload was gzip-framed and the md5 of the decompressed
payload. Per call it keeps the service time (body received to response
written) and the number of records. Per connection it counts one accept:
the daemon creates one boto3 client per partition, and each client opens
its own connection.
"""

from __future__ import annotations

import asyncio
import base64
import gzip
import hashlib
import json
import time
from dataclasses import dataclass, field

GZIP_MAGIC = b"\x1f\x8b"
PUT_RECORDS = "Kinesis_20131202.PutRecords"


@dataclass
class Record:
    t_recv: float
    key: str
    wire_bytes: int
    gzipped: bool
    md5: str


@dataclass
class KinesisStub:
    records: list[Record] = field(default_factory=list)
    service_ms: list[float] = field(default_factory=list)
    connections: int = 0
    bad_requests: int = 0
    _server: asyncio.base_events.Server | None = None

    async def start(self) -> int:
        self._server = await asyncio.start_server(self._serve, "127.0.0.1", 0)
        return self._server.sockets[0].getsockname()[1]

    async def close(self) -> None:
        if self._server is not None:
            self._server.close()
            await self._server.wait_closed()

    def mark(self) -> tuple[int, int, int]:
        """Positions to measure a phase from: records, calls, connections."""
        return len(self.records), len(self.service_ms), self.connections

    async def _serve(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter) -> None:
        self.connections += 1
        try:
            while True:
                head = await reader.readuntil(b"\r\n\r\n")
                headers = {}
                for line in head.decode("latin-1").split("\r\n")[1:]:
                    name, sep, value = line.partition(":")
                    if sep:
                        headers[name.strip().lower()] = value.strip()
                body = await reader.readexactly(int(headers.get("content-length", 0)))
                t_recv = time.time()
                if headers.get("x-amz-target") != PUT_RECORDS:
                    self.bad_requests += 1
                    await self._respond(writer, 400, {"__type": "UnknownOperationException"})
                    continue
                reply = self._put_records(json.loads(body), t_recv)
                await self._respond(writer, 200, reply)
                self.service_ms.append((time.time() - t_recv) * 1000.0)
        except (asyncio.IncompleteReadError, ConnectionError):
            pass
        finally:
            writer.close()

    def _put_records(self, req: dict, t_recv: float) -> dict:
        out = []
        for i, rec in enumerate(req["Records"]):
            wire = base64.b64decode(rec["Data"])
            gzipped = wire[:2] == GZIP_MAGIC
            payload = gzip.decompress(wire) if gzipped else wire
            self.records.append(
                Record(
                    t_recv=t_recv,
                    key=rec["PartitionKey"],
                    wire_bytes=len(wire),
                    gzipped=gzipped,
                    md5=hashlib.md5(payload).hexdigest(),
                )
            )
            out.append({"SequenceNumber": str(len(self.records)), "ShardId": "shardId-000000000000"})
        return {"FailedRecordCount": 0, "Records": out}

    @staticmethod
    async def _respond(writer: asyncio.StreamWriter, status: int, obj: dict) -> None:
        body = json.dumps(obj).encode()
        reason = "OK" if status == 200 else "Bad Request"
        writer.write(
            f"HTTP/1.1 {status} {reason}\r\n"
            "Content-Type: application/x-amz-json-1.1\r\n"
            f"Content-Length: {len(body)}\r\n"
            "x-amzn-RequestId: 00000000-0000-0000-0000-000000000000\r\n"
            "\r\n".encode()
            + body
        )
        await writer.drain()
