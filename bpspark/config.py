"""Ingestion configuration — the engine's analog of the reference's
tunables in ``alfresco-global.properties:7-19`` and the Spring wiring
(service-context.xml:31-32, scheduler-context.xml:40-51)."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class IngestionConfig:
    # R1/R16 cadence (alfresco-global.properties:7-9)
    poll_interval: str = "10 seconds"        # cronExpression=0/10 * * * * ?
    start_delay_ms: int = 180_000            # cronStartDelay=180000
    # R13 timer durations fed to the workflow (alfresco-global.properties:17-19)
    interrupt_t1_timer: str = "PT5M"
    wait2_check_content_timer: str = "PT1M"
    # R14 workflow naming
    workflow_name: str = "bestpub-publishing"
