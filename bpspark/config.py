"""Ingestion configuration — the engine's analog of the reference's
workflow timer tunables in ``alfresco-global.properties:17-19``."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class IngestionConfig:
    # R13 timer durations fed to the workflow (alfresco-global.properties:17-19)
    interrupt_t1_timer: str = "PT5M"
    wait2_check_content_timer: str = "PT1M"
